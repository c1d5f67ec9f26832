package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one Spark listener behind every job, task and stream-state count:
  * [[JobProfile]]'s per-query table, [[BenchScale]]'s st13 state evidence
  * and the specs that pin a job count. Use it through [[QueryMetrics.during]],
  * which scopes it to one body.
  *
  * Only the job and stage counts repeat exactly for one plan over the same
  * data. The byte counters (shuffle read/write, input) move with what ran
  * earlier in the session: `Ann.knnJoin(k = 3, nprobe = 2)` at sf0.01 on
  * local[4] wrote 31,379 shuffle bytes after one sequence of other queries
  * and 31,341 after a shorter one, with equal jobs, stages and results. So
  * a job or stage count can gate a change; a byte count can only when the
  * workload that precedes it is pinned too. */
final class QueryMetrics extends SparkListener {
  private var c = QueryMetrics.Counts()
  // per-job call site and start time, for the -v breakdown (where do 150
  // jobs in a 7-task-second query come from?)
  private val started = scala.collection.mutable.Map[Int, (String, Long)]()

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    val site = Option(j.properties)
      .flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(j.stageInfos.lastOption.map(_.name))
      .getOrElse("?")
    started(j.jobId) = (site, j.time)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    started.remove(j.jobId).foreach { case (site, t0) =>
      c = c.copy(jobWalls = c.jobWalls :+ ((site, (j.time - t0) / 1e3)))
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
      tasks = c.tasks + 1,
      taskTimeMs = c.taskTimeMs + m.executorRunTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      inputBytes = c.inputBytes + m.inputMetrics.bytesRead)
  }

  /** Streaming progress rides the same bus: the peak state-operator
    * footprint (numRowsTotal / memory) across a query's progress events.
    * Max, not last: availableNow runs can shrink state at the final
    * watermark-driven eviction. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => synchronized {
      p.progress.stateOperators.foreach { so =>
        // memoryUsedBytes alone is racy for the on-heap provider: a progress
        // event posted after the final commit can estimate an already-
        // unloaded map at a few hundred bytes. The provider custom metrics
        // carry the real figures; take the max across all of them.
        val custom = Option(so.customMetrics).map { m =>
          Seq("stateOnCurrentVersionSizeBytes", "loadedMapCacheSizeBytes",
            "rocksdbTotalMemoryUsage")
            .flatMap(k => Option(m.get(k)).map(_.longValue))
            .foldLeft(0L)(math.max)
        }.getOrElse(0L)
        c = c.copy(maxStateRows = math.max(c.maxStateRows, so.numRowsTotal),
          maxStateMemBytes = math.max(c.maxStateMemBytes,
            math.max(so.memoryUsedBytes, custom)))
      }
    }
    case _ => ()
  }

  def counts: QueryMetrics.Counts = synchronized(c)
}

object QueryMetrics {

  /** What ran inside one [[during]] window. `jobWalls` holds one
    * (call site, seconds) per job that both started and ended there. */
  final case class Counts(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
      taskTimeMs: Long = 0L, gcMs: Long = 0L, shuffleReadBytes: Long = 0L,
      shuffleWriteBytes: Long = 0L, inputBytes: Long = 0L,
      maxStateRows: Long = 0L, maxStateMemBytes: Long = 0L,
      jobWalls: Vector[(String, Double)] = Vector.empty) {

    /** (call site, jobs, summed seconds), the costliest site first. */
    def bySite: Seq[(String, Int, Double)] =
      jobWalls.groupBy(_._1).toSeq
        .map { case (site, ws) => (site, ws.size, ws.map(_._2).sum) }
        .sortBy(-_._3)
  }

  /** Runs `body` with a fresh listener attached and returns what it ran.
    * Events are delivered asynchronously, so the bus is drained before the
    * listener is attached (a job an earlier action queued must not count)
    * and again after `body` (every task-end and progress event of `body`'s
    * work must). */
  def during[A](spark: SparkSession)(body: => A): (A, Counts) = {
    val sc = spark.sparkContext
    val m = new QueryMetrics
    ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(m)
    try {
      val out = body
      ListenerBridge.waitUntilEmpty(sc)
      (out, m.counts)
    } finally sc.removeSparkListener(m)
  }
}
