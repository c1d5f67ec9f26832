package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload <crud_mixed|stream_ingest|vector_index>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints a human-readable report, then, as the last stdout line, one JSON
  * object: `correct`, `attempted`, `failed` and `metrics` (end-to-end
  * metrics without tracing, per-layer metrics with it). */
object Main {
  val Layers = Seq("crud", "dsl", "store", "streaming", "pipeline", "similarity", "dedup")
  /** Workload-specific per-layer metrics, reported by every workload. */
  val Extras: Seq[String] = Seq(
    "crud.get_by_id_ms", "crud.multi_get_ms", "crud.query_ms", "crud.count_ms",
    "crud.time_range_ms", "crud.upsert_ms", "crud.update_ms", "crud.delete_ms",
    "crud.merge_ms", "crud.jobs_per_read", "crud.jobs_per_write",
    "crud.rows_scanned_per_row_returned",
    "dsl.compile_us", "dsl.plan_ms",
    "store.bytes_written_per_user_byte", "store.live_bytes_per_user_byte",
    "store.files_per_stage", "store.dirs_per_partition",
    "streaming.trigger_ms", "streaming.plan_ms", "streaming.offset_ms",
    "streaming.commit_ms", "streaming.add_batch_ms",
    "streaming.jobs_per_batch", "streaming.state_rows", "streaming.state_mb",
    "streaming.dup_drop_frac", "streaming.records_per_s",
    "pipeline.plan_ms", "pipeline.records_out_per_in",
    "similarity.serve_ms", "similarity.append_ms", "similarity.remove_ms",
    "similarity.compact_ms", "similarity.build_ms", "similarity.kmeans_ms",
    "similarity.jobs_per_serve", "similarity.jobs_per_append",
    "similarity.candidates_per_result", "similarity.recall_at_10",
    "dedup.neighbors_ms", "dedup.cc_ms", "dedup.cc_jobs", "dedup.pairs_per_batch",
    "dedup.kept_frac")
  /** Generic per-layer counters that read 0 on every workload (the layer
    * launches no Spark job of its own, or never fails); left out. */
  val AlwaysZero: Set[String] =
    Seq("dsl", "store", "streaming", "pipeline").flatMap(l =>
      Seq("jobs", "task_s", "gc_s", "shuffle_mb", "input_mb", "output_mb", "failed")
        .map(m => s"$l.$m")).toSet ++ Set("crud.failed", "dedup.output_mb", "dedup.failed")
  /** Operation index of the traced set-up. */
  val SetupOp = -2L

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    if (trace) Trace.attach(spark.sparkContext, spark)

    val w: Workload = workload match {
      case "crud_mixed" => new CrudMixed(spark, seed, work)
      case "stream_ingest" => new StreamIngest(spark, seed, work)
      case "vector_index" => new VectorIndex(spark, seed, work)
      case other => sys.error(s"unknown workload: $other")
    }
    val setupS = Stats.timed(Trace.op("setup", SetupOp, traced = trace)(w.setup()))._2 / 1000
    Trace.op("warmup", -4, traced = false)(w.warmup())
    w.resetSamples()
    w.run(seconds, trace)
    Trace.drain()
    val checkS = Stats.timed(Trace.op("check", -5, traced = false)(w.check()))._2 / 1000

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (sessionS + setupS, "s"),
      "op_iqm_ms" -> (w.ops.iqm, "ms"),
      "write_iqm_ms" -> (w.writes.iqm, "ms"),
      "ops_per_s" -> (w.ops.size / (w.loopMs / 1000), "1/s"),
      "peak_rss_mb" -> (Stats.peakRssMb, "MB"))

    // ---- report --------------------------------------------------------------
    println(s"perfbench $workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"local[$cores]; closed loop, one client")
    println(f"  session start $sessionS%.3f s; set-up $setupS%.3f s; " +
      f"loop ${w.loopMs / 1000}%.3f s; check $checkS%.3f s")
    def line(n: String, v: Double, u: String, note: String = "") =
      println(f"  $n%-34s $v%14.4f $u%-8s $note")
    e2e.foreach { case (n, (v, u)) => line(n, v, u) }
    def tail(n: String, s: Samples) =
      line(n, s.tail, "ms", f"p${s.tailPercentile}%.1f of n=${s.size}")
    line("op_p50_ms", w.ops.p50, "ms", s"n=${w.ops.size}")
    line("write_p50_ms", w.writes.p50, "ms", s"n=${w.writes.size}")
    line("read_p50_ms", w.reads.p50, "ms", s"n=${w.reads.size}")
    tail("read_tail_ms", w.reads)
    tail("write_tail_ms", w.writes)
    tail("op_tail_ms", w.ops)
    line("fail_frac", if (w.attempted == 0) 0.0 else w.failed.toDouble / w.attempted, "fraction",
      s"${w.failed}/${w.attempted}")
    w.reportExtras.foreach { case (n, v, u) => line(n, v, u) }
    println("  write samples (ms): " + w.writes.values.map(v => f"$v%.0f").mkString(" "))
    w.failures.foreach { case (k, msg) => println(s"  failed op $k: $msg") }
    w.errors.foreach(e => println(s"  CHECK FAILED: $e"))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) e2e.toSeq.map { case (n, (v, u)) => (n, v, u) }
      else layerMetrics(w, work, workload, seed)

    val bad = metrics.filter(m => m._2.isNaN || m._2.isInfinite).map(_._1)
    spark.stop()
    if (!trace && bad.nonEmpty) {
      System.err.println(s"perfbench: no samples for ${bad.mkString(", ")}")
      sys.exit(3)
    }
    val body = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${w.errors.isEmpty}, "attempted": ${w.attempted}, """ +
      s""""failed": ${w.failed}, "metrics": {$body}}""")
  }

  /** Per-layer metrics of the traced run; also writes the spans. */
  private def layerMetrics(w: Workload, work: Path, workload: String,
      seed: Long): Seq[(String, Double, String)] = {
    val extras = w.layerExtras(Trace.spans, Trace.jobs)
    Trace.drain()
    val spans = Trace.spans
    val jobs = Trace.jobs
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def ancestors(s: Span): Iterator[Span] =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
        .takeWhile(_.isDefined).map(_.get)
    val tasks = jobs.synchronized(jobs.taskIntervals.toList).sortBy(_._1)
    def union(iv: Seq[(Double, Double)]): Double = {
      var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
      iv.filter(t => t._2 > t._1).sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) { if (!curE.isNaN) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (!curE.isNaN) total += curE - curS
      total
    }
    def selfMs(s: Span) = s.wall - union(children.getOrElse(s.id, Nil).map(c =>
      (math.max(c.start, s.start), math.min(c.end, s.end))))
    def taskBusy(s: Span) = union(tasks.iterator
      .takeWhile(_._1 < s.end).filter(_._2 > s.start)
      .map(t => (math.max(t._1.toDouble, s.start), math.min(t._2.toDouble, s.end))).toSeq)

    val measured = spans.filter(s => s.op != SetupOp && !ancestors(s).exists(_.op == SetupOp))
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    Layers.foreach { l =>
      val ls = measured.filter(_.layer == l)
      val top = ls.filterNot(s => ancestors(s).exists(_.layer == l))
      val ws = ls.flatMap(s => jobs.work.get(s.id))
      val wall = top.map(_.wall).sum
      out(s"$l.calls") = (top.size.toDouble, "count")
      out(s"$l.busy_ms") = (wall, "ms")
      out(s"$l.self_ms") = (ls.map(selfMs).sum, "ms")
      out(s"$l.jobs") = (ws.map(_.jobs).sum.toDouble, "count")
      out(s"$l.task_s") = (ws.map(_.taskMs).sum / 1000.0, "s")
      out(s"$l.gc_s") = (ws.map(_.gcMs).sum / 1000.0, "s")
      out(s"$l.shuffle_mb") = (ws.map(_.shuffleBytes).sum / 1048576.0, "MB")
      out(s"$l.input_mb") = (ws.map(_.inputBytes).sum / 1048576.0, "MB")
      out(s"$l.output_mb") = (ws.map(_.outputBytes).sum / 1048576.0, "MB")
      out(s"$l.failed") = (ls.count(_.failed).toDouble, "count")
      out(s"$l.idle_frac") = (if (wall == 0) 0.0 else top.map(s => s.wall - taskBusy(s)).sum / wall,
        "fraction")
    }
    // jobs outside any layer call: no tag at all, or only an operation's
    // root span in flight
    val rootJobs = measured.filter(_.layer == "op").flatMap(s => jobs.work.get(s.id)).map(_.jobs).sum
    out("unattributed.jobs") = ((jobs.unattributedJobs + rootJobs).toDouble, "count")

    // tracing overhead: traced against untraced operations of the same
    // kind; each kind's first operation is left out, as it also compiles
    val byKind = w.perOp.groupBy(_._1).values.flatMap { xs =>
      val (t, u) = xs.tail.partition(_._2)
      if (t.isEmpty || u.isEmpty) None
      else Some((xs.size, Stats.median(t.map(_._3).toSeq) / Stats.median(u.map(_._3).toSeq) - 1))
    }
    out("trace.overhead_frac") = (if (byKind.isEmpty) 0.0
      else byKind.map(k => k._1 * k._2).sum / byKind.map(_._1).sum, "fraction")

    // every workload reports every name; a layer a workload does not
    // exercise reads 0
    Extras.foreach { n =>
      val unit = if (n.endsWith("_ms")) "ms" else if (n.endsWith("_us")) "us"
        else if (n.endsWith("_mb")) "MB" else if (n.endsWith("_per_s")) "1/s"
        else if (n.endsWith("_frac") || n.contains("recall")) "fraction"
        else if (n.contains("_per_")) "ratio" else "count"
      out(n) = (extras.getOrElse(n, 0.0), unit)
    }
    // a workload may replace a generic value it measures better
    extras.foreach { case (n, v) => out.get(n).foreach(o => out(n) = (v, o._2)) }
    val unknown = extras.keySet -- out.keySet
    require(unknown.isEmpty, s"per-layer values without a declared name: $unknown")

    // spans, written at exit
    val file = work.resolve(s"../trace/$workload-$seed.spans.jsonl").normalize
    Files.createDirectories(file.getParent)
    val lines = spans.map { s =>
      val wk = jobs.work.get(s.id)
      s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": "${s.layer}", "name": "${s.name}", """ +
        s""""op": ${s.op}, "start_ms": ${s.start}, "end_ms": ${s.end}, "self_ms": ${selfMs(s)}, """ +
        s""""failed": ${s.failed}, "jobs": ${wk.map(_.jobs).getOrElse(0)}, """ +
        s""""task_ms": ${wk.map(_.taskMs).getOrElse(0L)}}"""
    }
    Files.write(file, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    println(s"  spans: ${spans.size} written to $file")
    println("  per-layer self time (ms): " + Layers.map(l => f"$l=${out(s"$l.self_ms")._1}%.1f").mkString(" "))
    println(f"  unattributed jobs ${out("unattributed.jobs")._1}%.0f; " +
      f"tracing overhead ${out("trace.overhead_frac")._1 * 100}%.1f %%")
    out.toSeq.collect { case (n, (v, u)) if !AlwaysZero(n) => (n, v, u) }
  }
}
