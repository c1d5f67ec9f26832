package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark workload: a closed loop with one client, where each
  * operation waits for its reply before the next is issued.
  *
  * In the traced run, every other operation of each kind within the first
  * cycle ([[prefix]]) is traced and all per-layer counts cover exactly
  * those, so two same-seed traced runs count the same work. The other
  * operations run without spans and give the in-run baseline for the
  * tracing overhead. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: Path) {
  val reads = new Samples
  val writes = new Samples
  val ops = new Samples
  var attempted = 0L
  var failed = 0L
  var loopMs = 0.0
  /** (kind, traced, ms) of every measured operation. */
  val perOp = mutable.ArrayBuffer.empty[(String, Boolean, Double)]
  val failures = mutable.LinkedHashMap.empty[String, String]
  /** Correctness violations; any entry makes the run incorrect. */
  val errors = mutable.ArrayBuffer.empty[String]
  protected var tracing = false

  /** Build inputs and state from scratch; the benchmark times this. */
  def setup(): Unit
  /** Untimed operations that compile the read plans before the loop. */
  def warmup(): Unit = ()
  /** Issue operation `i` of the seeded sequence. */
  def step(i: Int): Unit
  /** Compare the program's final state with the benchmark's model. */
  def check(): Unit
  /** Workload-specific per-layer values (the generic ones come from spans). */
  def layerExtras(spans: Seq[Span], work: JobListener): Map[String, Double]
  /** Workload-specific lines for the human-readable report. */
  def reportExtras: Seq[(String, Double, String)] = Nil

  /** Length of the workload's fixed operation cycle; runs end on a cycle
    * boundary so every run sees the same mix. */
  def cycle: Int

  /** Operations of the traced head of the sequence: one cycle. */
  def prefix: Int = cycle

  private val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)

  /** Whether operation `i` of `kind` is traced: within the head, every
    * other operation of each kind, starting with the first. */
  protected def traced(kind: String, i: Int): Boolean = i >= 0 && {
    val n = seen(kind)
    seen(kind) = n + 1
    tracing && i < prefix && n % 2 == 0
  }

  /** Run the closed loop until `seconds` have passed and a cycle is
    * complete. */
  def run(seconds: Int, trace: Boolean): Unit = {
    tracing = trace
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || i % cycle != 0) {
      step(i)
      i += 1
    }
    loopMs = (System.nanoTime() - t0) / 1e6
  }

  /** Forget the warm-up's samples and counts. */
  def resetSamples(): Unit = {
    Seq(reads, writes, ops).foreach(_.clear())
    attempted = 0; failed = 0
    perOp.clear(); failures.clear()
  }

  /** Time one operation. `cls` is 'r' (read), 'w' (write) or 'm'
    * (maintenance: counted in ops but in neither latency class). A thrown
    * operation counts as failed and adds no latency sample. */
  protected def timedOp(kind: String, i: Int, cls: Char)(body: => Unit): Boolean = {
    val isTraced = traced(kind, i)
    attempted += 1
    val t0 = System.nanoTime()
    try {
      Trace.op(kind, i, isTraced)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      ops += ms
      if (cls == 'r') reads += ms else if (cls == 'w') writes += ms
      perOp += ((kind, isTraced, ms))
      true
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures.getOrElseUpdate(kind, firstLine(e))
        false
    }
  }

  protected def expect(ok: Boolean, what: => String): Unit =
    if (!ok && errors.size < 20) errors += what

  protected def firstLine(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).linesIterator.nextOption().getOrElse("")}"
      .take(300)
  }

  protected def freshDir(name: String): Path = {
    val d = work.resolve(name)
    graft.util.Scratch.deleteRecursive(d)
    Files.createDirectories(d.getParent)
    d
  }
}
