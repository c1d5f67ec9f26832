package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.PartitionedStore
import graft.util.Scratch

/** TRUE multi-process commit arbitration: a REAL second JVM (own
  * SparkSession, own — and therefore useless — in-process commit lock)
  * races refreshes against this test's store over one shared root, so
  * the only thing standing between the two writers is the ON-DISK
  * machinery: the `manifest.v<N>` hard-link arbiter (exactly one process
  * can CREATE a version's file) and the post-link stale-writer re-check.
  * PartitionedRollupSpec simulates the second process by pre-planting a
  * manifest; this spec forks the process for real and loops the race,
  * made deterministic by parking the parent's commit on its `casChecked`
  * seam (after its in-JVM CAS re-read PASSED — the exact window only a
  * cross-process arbiter can close) while the child commits.
  *
  * Round shape, repeated: parent reads version V and parks pre-link →
  * child commits V+1 (and, in the stale-writer test, V+2 whose
  * retainVersions=1 sweep reclaims `manifest.v<V+1>`) → parent resumes
  * and must lose LOUDLY at the arbiter (or the stale-writer guard), with
  * the winner's files byte-intact and the loser's teardown leaving only
  * its own debris removed — then retry against the new version and
  * win. */
class RaceCommitSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def kv(mul: Long) =
    spark.range(40).select(col("id").as("k"), (col("id") * mul).as("v"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def childRows(round: Int): Set[(Long, Long)] =
    (0L until 40L).map(k => (k, k * 1000L + round)).toSet

  // the same JDK17 module opens build.sbt hands every forked Spark JVM
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def spawnChild(root: String, ctrl: Path, rounds: Int,
      perRound: Int, retain: Int): Process = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = (Seq(java) ++ addOpens ++ Seq("-Xmx3g",
      "-cp", sys.props("java.class.path"), "graft.tools.RaceCommitChild",
      root, ctrl.toString, rounds.toString, perRound.toString,
      retain.toString)).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(ctrl.resolve("child.log").toFile)
    pb.start()
  }

  /** Park the parent's commit at `casChecked`, signal round `i`, and wait
    * for the child's `done_<i>` (failing fast if the child died). */
  private def parkAndSignal(store: PartitionedStore, ctrl: Path,
      proc: Process): Int => Unit = { i =>
    store.onStep = s => if (s == "casChecked") {
      Files.write(ctrl.resolve(s"go_$i"), Array.emptyByteArray)
      val deadline = System.nanoTime() + 300e9.toLong
      while (!Files.exists(ctrl.resolve(s"done_$i"))) {
        assert(proc.isAlive || Files.exists(ctrl.resolve(s"done_$i")),
          s"child died before committing round $i — see ${ctrl}/child.log")
        assert(System.nanoTime() < deadline, s"child round $i timed out")
        Thread.sleep(20)
      }
    }
  }

  test("hard-link arbiter, cross-PROCESS: of two real JVMs racing one " +
      "version, exactly one wins; the loser's error names the arbiter, its " +
      "teardown spares the winner's files, and its retry commits (3 rounds)") {
    val root = Scratch.dir("graft_race_arb")
    val ctrl = Paths.get(Scratch.dir("graft_race_arb_ctrl"))
    val store = new PartitionedStore(spark, root, Seq("k"), 4)
    store.init(kv(1))
    val proc = spawnChild(root, ctrl, rounds = 3, perRound = 1, retain = 2)
    val park = parkAndSignal(store, ctrl, proc)
    try {
      for (i <- 1 to 3) {
        val v = store.version()
        park(i)
        // parent parks AFTER its CAS re-read passed, child commits v+1,
        // parent resumes into the link → must lose at the ARBITER
        val e = intercept[java.util.ConcurrentModificationException] {
          store.refresh(0 until 4, kv(7))
        }
        store.onStep = _ => ()
        assert(e.getMessage.contains("commit arbiter"), e.getMessage)
        // exactly-one-wins: the child's commit is intact, bit for bit
        assert(store.version() === v + 1)
        assert(rows(store.read()) === childRows(i),
          s"round $i: loser teardown disturbed the winner's view")
        assert(Files.exists(Paths.get(root, s"manifest.v${v + 1}")),
          "loser deleted the winner's arbiter file")
        assert(rows(store.readAsOf(v + 1)) === childRows(i))
        // optimistic-concurrency retry: re-derive against the new version
        store.refresh(0 until 4, kv(7))
        assert(store.version() === v + 2)
        assert(rows(store.read()) === rows(kv(7)))
      }
    } finally { store.onStep = _ => (); proc.destroyForcibly(); () }
    assert(proc.waitFor(60, TimeUnit.SECONDS), "child did not exit")
  }

  test("stale-writer guard, cross-PROCESS: a writer parked past the " +
      "retention window re-links an already-swept manifest.v<N> but must " +
      "NOT roll the pointer backwards — the post-link re-check aborts it " +
      "(2 rounds at retainVersions=1)") {
    val root = Scratch.dir("graft_race_stale")
    val ctrl = Paths.get(Scratch.dir("graft_race_stale_ctrl"))
    val store = new PartitionedStore(spark, root, Seq("k"), 4,
      retainVersions = 1)
    store.init(kv(1))
    // TWO child commits per round: the second one's retainVersions=1
    // sweep reclaims manifest.v<V+1> — the exact file the parked parent
    // is about to contest — so the parent's hard link SUCCEEDS and only
    // the post-link pointer re-check stands between it and a backwards
    // pointer swap over reclaimed dirs
    val proc = spawnChild(root, ctrl, rounds = 2, perRound = 2, retain = 1)
    val park = parkAndSignal(store, ctrl, proc)
    try {
      for (i <- 1 to 2) {
        val v = store.version()
        park(i)
        val e = intercept[java.util.ConcurrentModificationException] {
          store.refresh(0 until 4, kv(7))
        }
        store.onStep = _ => ()
        assert(e.getMessage.contains("stale writer"), e.getMessage)
        assert(store.version() === v + 2, "child's two commits stand")
        assert(rows(store.read()) === childRows(i),
          s"round $i: stale loser disturbed the winner's view")
        // the loser's teardown removed its own RE-CREATED link — the name
        // stays reclaimed, exactly as the winner's sweep left it
        assert(!Files.exists(Paths.get(root, s"manifest.v${v + 1}")),
          "stale loser left its re-created arbiter link behind")
        assert(rows(store.readAsOf(v + 2)) === childRows(i))
        // and the retry against the CURRENT version wins cleanly
        store.refresh(0 until 4, kv(7))
        assert(store.version() === v + 3)
        assert(rows(store.read()) === rows(kv(7)))
      }
    } finally { store.onStep = _ => (); proc.destroyForcibly(); () }
    assert(proc.waitFor(60, TimeUnit.SECONDS), "child did not exit")
  }
}
