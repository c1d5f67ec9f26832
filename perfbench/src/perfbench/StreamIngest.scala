package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.StructType

import graft.crud.CrudService
import graft.model.Bucket
import graft.pipeline.{EnrichStage, Pipeline, PipelineStage}
import graft.store.BucketStore
import graft.streaming.Streams

/** Enrichment stage of the ingest pipeline: drops `error` events and adds
  * the value in integer cents, so per-user sums are exact. */
final class CentsStage extends EnrichStage {
  override def outputSchema(in: StructType): StructType = in.add("cents", "long")
  def onObjectBatch(batch: Seq[Row], groupKey: Option[Row]): Iterator[Row] =
    batch.iterator.filter(_.getAs[String]("event_type") != "error")
      .map(r => Row.fromSeq(r.toSeq :+ math.round(r.getAs[Double]("value") * 100)))
}

/** Closed-loop drain of a staged backlog of `events` files, one file per
  * micro-batch. Each batch is deduplicated by the stream (event_id, ts)
  * under a watermark, enriched by a pipeline stage, rolled up per user and
  * merged into a rollup bucket. About 5 % of events are re-delivered one
  * to three files later and 2 % arrive one file late, inside the
  * watermark. */
final class StreamIngest(spark: SparkSession, seed: Long, work: Path)
    extends Workload(spark, seed, work) {
  def cycle = 1
  /** Batches a run applies at least (the first carries the query start). */
  val MinBatches = 13
  override def prefix = MinBatches

  val Events = 100000L
  val BacklogFiles = 50
  val Watermark = "2 days"
  private val stages = Seq(PipelineStage(new CentsStage))
  private val rollupBucket = Bucket("/bench/rollup")
  private var store: BucketStore = _
  private var crud: CrudService = _
  private var backlog: Path = _
  /** backlog file of each batch index, in the order the source takes them */
  private var files: IndexedSeq[String] = _

  def setup(): Unit = {
    backlog = freshDir("stream_backlog")
    val root = freshDir("stream_store")
    store = new BucketStore(spark, root.toString)
    crud = new CrudService(store, rollupBucket)
    val per = Events / BacklogFiles
    val ev = Data.events(spark, seed, Events)
    val home = (col("event_id") / per).cast("int")
    val late = when(Data.unif(seed, col("event_id"), 6) < 0.02 && home < BacklogFiles - 1, home + 1)
      .otherwise(home)
    val base = ev.withColumn("file_no", late)
    val redelivered = base.filter(Data.unif(seed, col("event_id"), 7) < 0.05)
      .withColumn("file_no", col("file_no") + 1 +
        (Data.unif(seed, col("event_id"), 8) * 3).cast("int"))
      .filter(col("file_no") < BacklogFiles)
    val staged = base.unionByName(redelivered)
    val schema = ev.schema
    val n = BacklogFiles
    // one parquet file per file_no: an Int key hashes to itself
    val rows = staged.select((col("file_no") +: schema.fieldNames.toSeq.map(col)): _*).rdd
      .map(r => (r.getInt(0), Row.fromSeq(r.toSeq.tail)))
      .partitionBy(new HashPartitioner(n)).values
    spark.createDataFrame(rows, schema).write.parquet(backlog.toString)
    val parts = listParquet(backlog).sortBy(_.getFileName.toString)
    require(parts.size == n, s"staged ${parts.size} files, wanted $n")
    // the file source takes files oldest first: pin that order
    val t0 = System.currentTimeMillis() - n * 10000L
    parts.zipWithIndex.foreach { case (p, i) => p.toFile.setLastModified(t0 + i * 10000L) }
    files = parts.map(_.toString).toIndexedSeq
    Trace.call("store", "write")(store.write(rollupBucket,
      spark.range(Data.Users).select(col("id").as("user_id"),
        lit(0L).as("n_events"), lit(0L).as("cents")),
      mode = org.apache.spark.sql.SaveMode.Overwrite))
  }

  private def listParquet(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try { val b = Seq.newBuilder[Path]; s.forEach(p => if (p.toString.endsWith(".parquet")) b += p); b.result() }
    finally s.close()
  }

  // ---- the stream ------------------------------------------------------------
  private val applied = mutable.ArrayBuffer.empty[Long]
  private val batchEndMs = mutable.HashMap.empty[Long, Double]
  @volatile private var stopAt = Long.MaxValue
  @volatile private var stopRequested = false
  private var progress: Seq[StreamingQueryProgress] = Nil

  def step(i: Int): Unit = ()

  /** batch id -> (rows into, rows out of) the pipeline, traced batches */
  private val pipeRows = mutable.HashMap.empty[Long, (Long, Long)]

  private def merge(target: CrudService, batch: DataFrame, id: Long): Unit = {
    // traced batches count pipeline rows with observations on the batch's
    // own plan (no extra job)
    val obs = if (Trace.tracedNow) Some((org.apache.spark.sql.Observation(),
      org.apache.spark.sql.Observation())) else None
    val in = obs.fold(batch)(o => batch.observe(o._1, count(lit(1)).as("n")))
    val piped = Trace.call("pipeline", "run")(Pipeline.run(in, stages))
    val enriched = obs.fold(piped)(o => piped.observe(o._2, count(lit(1)).as("n")))
    val rollup = enriched.groupBy("user_id")
      .agg(count(lit(1)).as("b_n"), sum("cents").as("b_cents"))
    Trace.call("crud", "merge")(target.mergeInto(rollup, Seq("user_id"),
      matchedUpdate = Map("n_events" -> (col("n_events") + col("b_n")),
        "cents" -> (col("cents") + col("b_cents"))),
      notMatchedInsert = Some(Map("n_events" -> col("b_n"), "cents" -> col("b_cents")))))
    obs.foreach { case (a, b) =>
      pipeRows(id) = (a.get("n").asInstanceOf[Long], b.get("n").asInstanceOf[Long])
    }
  }

  override def run(seconds: Int, trace: Boolean): Unit = {
    tracing = trace
    val src = spark.readStream.schema(spark.read.parquet(files(0)).schema)
      .option("maxFilesPerTrigger", "1").parquet(backlog.toString)
    val t0 = System.nanoTime()
    stopAt = t0 + seconds * 1000000000L
    // stops the query between batches once the deadline and MinBatches
    // are both behind it; a batch arriving after the request is skipped,
    // so every applied batch is a whole one
    var query: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    val watchdog = new Thread(() => {
      var done = false
      while (!done) {
        if (query.isEmpty) query = spark.streams.active.headOption
        if (stopRequested) { query.foreach(_.stop()); done = true }
        else Thread.sleep(5)
      }
    }, "perfbench-stream-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()
    try Trace.op("drain", -1, traced = tracing) {
      val deduped = Trace.call("streaming", "dedup")(
        Streams.dedupStream(src, Seq("event_id"), Some("ts"), Watermark))
      Trace.call("streaming", "run")(Streams.runForeachBatchIds(deduped) { (batch, id) =>
        if (!stopRequested) {
          val ok = timedOp("batch", id.toInt, 'm')(merge(crud, batch, id))
          if (ok) { applied += id; batchEndMs(id) = System.nanoTime() / 1e6 }
          if (System.nanoTime() > stopAt && applied.size >= MinBatches)
            stopRequested = true
        }
      })
    } finally {
      stopRequested = true
      watchdog.join(60000)
    }
    loopMs = (System.nanoTime() - t0) / 1e6
    progress = query.map(_.recentProgress.toSeq).getOrElse(Nil)
    // trigger-to-commit time of every applied batch but the first, which
    // carries the query's start-up
    val byId = progress.filter(_.numInputRows > 0).map(p => p.batchId -> p).toMap
    applied.filter(_ > 0).flatMap(byId.get).foreach { p =>
      writes += p.durationMs.get("triggerExecution").doubleValue()
    }
  }

  /** Measured batches (all applied but the first) and the wall they took. */
  private def steady: (Seq[Long], Double) = {
    val ids = applied.filter(_ > 0).toSeq
    if (ids.isEmpty) (Nil, Double.NaN)
    else (ids, batchEndMs(ids.last) - batchEndMs(0))
  }

  def recordsPerS: Double = {
    val (ids, ms) = steady
    val byId = progress.map(p => p.batchId -> p.numInputRows).toMap
    ids.map(byId.getOrElse(_, 0L)).sum / (ms / 1000)
  }

  def check(): Unit = {
    expect(applied.toSeq == applied.indices.map(_.toLong),
      s"applied batches are not a prefix: ${applied.take(5)}")
    val input = spark.read.parquet(applied.toSeq.map(b => files(b.toInt)): _*)
    val want = Pipeline.run(input.dropDuplicates("event_id", "ts"), stages)
      .groupBy("user_id").agg(count(lit(1)).as("n"), sum("cents").as("c"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = store.read(rollupBucket).collect()
      .map(r => r.getAs[Long]("user_id") -> (r.getAs[Long]("n_events"), r.getAs[Long]("cents")))
      .filter(_._2._1 > 0).toMap
    expect(got == want, s"rollup of ${applied.size} batches differs from the batch " +
      s"recompute: ${got.size} vs ${want.size} users")
  }

  override def reportExtras: Seq[(String, Double, String)] = Seq(
    ("records_per_s", recordsPerS, "1/s"),
    ("batches_applied", applied.size.toDouble, "count"))

  def layerExtras(spans: Seq[Span], w: JobListener): Map[String, Double] = {
    val batchSpans = spans.filter(s => s.layer == "op" && s.name == "batch")
    val tracedIds = batchSpans.map(_.op).toSet
    val ps = Trace.streams.synchronized(Trace.streams.progress.toList)
      .filter(p => p.numInputRows > 0 && tracedIds(p.batchId))
    def ms(p: StreamingQueryProgress, keys: String*) =
      keys.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    def dur(keys: String*) = Stats.median(ps.map(ms(_, keys: _*)))
    val state = ps.flatMap(_.stateOperators.headOption)
    // rows the source delivered against rows the dedup let through (the
    // pipeline's observed input; the state operator's own counters run
    // twice per batch, since the merge executes the batch plan twice)
    val in = ps.map(_.numInputRows).sum
    val kept = ps.map(p => pipeRows.get(p.batchId).fold(0L)(_._1)).sum
    def jobsUnder(root: Span) = spans.filter(_.op == root.op)
      .flatMap(s => w.work.get(s.id)).map(_.jobs).sum
    Map(
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.plan_ms" -> dur("queryPlanning"),
      "streaming.offset_ms" -> dur("latestOffset", "getBatch"),
      "streaming.commit_ms" -> dur("walCommit", "commitOffsets"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      // the engine's own share of a trigger: everything outside foreachBatch
      "streaming.self_ms" -> ps.map(p => ms(p, "triggerExecution") - ms(p, "addBatch")).sum,
      "streaming.jobs_per_batch" -> (if (batchSpans.isEmpty) 0.0
        else batchSpans.map(jobsUnder).sum.toDouble / batchSpans.size),
      "streaming.state_rows" -> Stats.median(state.map(_.numRowsTotal.toDouble)),
      "streaming.state_mb" -> Stats.median(state.map(_.memoryUsedBytes / 1048576.0)),
      "streaming.dup_drop_frac" -> (if (in == 0) 0.0 else 1.0 - kept.toDouble / in),
      "streaming.records_per_s" -> recordsPerS,
      "pipeline.plan_ms" -> Stats.median(spans.filter(_.layer == "pipeline").map(_.wall)),
      "pipeline.records_out_per_in" -> (if (pipeRows.isEmpty) 0.0
        else pipeRows.values.map(_._2).sum.toDouble / pipeRows.values.map(_._1).sum),
      "crud.merge_ms" -> Stats.median(spans.filter(s => s.layer == "crud" && s.name == "merge")
        .map(_.wall)))
  }
}
