package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.PartitionedStore
import graft.util.Scratch

/** The partitioned-rewrite contract (SCALE.md §5's upgrade path, shipped):
  * refresh writes ONLY the touched partitions, commits all of them in one
  * atomic manifest rename, and a failed refresh leaves the store
  * byte-identical. */
class PartitionedRollupSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def newStore(n: Int = 8) = {
    val root = Scratch.dir("graft_pstore")
    new PartitionedStore(spark, root, Seq("k"), n)
  }

  private def state(rows: Seq[(Long, Long)]) = rows.toDF("k", "v")

  test("init + read round-trips, including EMPTY initial state") {
    val ps = newStore()
    ps.init(state(Seq((1L, 10L), (2L, 20L), (3L, 30L))))
    assert(ps.read().orderBy("k").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // an empty init must still read back (schema-carrying store): this is
    // the day-zero state of every maintained rollup
    val ps0 = newStore()
    ps0.init(state(Nil).filter(lit(false)))
    assert(ps0.read().count() === 0L)
    assert(ps0.read().columns.toSeq === Seq("k", "v"))
    assert(ps0.readPartitions(Seq(0, 3)).count() === 0L)
  }

  test("init's partitioned write is the first action on its frame: an " +
      "Observation riding init counts every row") {
    val ps = newStore()
    val rows = (1L to 100L).map(i => (i % 7, i))
    val obs = org.apache.spark.sql.Observation()
    ps.init(state(rows).observe(obs, count(lit(1)).as("n")))
    assert(obs.get("n") === rows.size.toLong)
    assert(ps.read().count() === rows.size.toLong)
  }

  test("refresh rewrites touched partitions only — untouched bytes identical") {
    val ps = newStore()
    val rows = (0L until 64L).map(i => (i, i * 10))
    ps.init(state(rows))
    val before = ps.manifest()
    // delta touches keys 1 and 2 only
    val delta = state(Seq((1L, 999L), (2L, 888L)))
    val touched = ps.touchedBy(delta)
    assert(touched.nonEmpty && touched.size <= 2)
    val untouched = before.keySet -- touched.toSet
    // new content of the touched partitions: everything they held, with
    // the delta applied
    val cur = ps.readPartitions(touched)
    val newPart = cur.join(delta.withColumnRenamed("v", "nv"), Seq("k"), "left")
      .select(col("k"), coalesce(col("nv"), col("v")).as("v"))
    ps.refresh(touched, newPart)
    val after = ps.manifest()
    // untouched partitions: the exact SAME physical dirs (no I/O at all)
    untouched.foreach(i => assert(after(i) === before(i), s"partition $i moved"))
    touched.foreach(i => assert(after(i) !== before(i), s"partition $i not refreshed"))
    // values: only the two keys changed
    val m = ps.read().as[(Long, Long)].collect().toMap
    assert(m(1L) === 999L && m(2L) === 888L)
    assert(m(5L) === 50L && m.size === 64)
  }

  test("a poisoned refresh leaves manifest and data untouched") {
    val ps = newStore()
    ps.init(state(Seq((1L, 10L), (2L, 20L))))
    val before = ps.manifest()
    val touched = ps.touchedBy(state(Seq((1L, 0L))))
    val poisoned = ps.readPartitions(touched).select(col("k"),
      when(lit(true), expr("raise_error('poison')")).cast("long").as("v"))
    intercept[Exception] { ps.refresh(touched, poisoned) }
    assert(ps.manifest() === before)
    assert(ps.read().orderBy("k").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 20L)))
    // and no orphan refresh dirs survive
    val stamps = Files.list(Paths.get(ps.root)).iterator()
    var orphans = 0
    while (stamps.hasNext) {
      val p = stamps.next().getFileName.toString
      if (p.startsWith("refresh")) orphans += 1
    }
    assert(orphans === 0)
  }

  test("a refresh row routed to an undeclared partition fails loudly") {
    val ps = newStore()
    ps.init(state(Seq((1L, 10L), (2L, 20L), (3L, 30L))))
    val touched = ps.touchedBy(state(Seq((1L, 0L))))
    // smuggle in a row for a key whose partition was NOT declared touched
    val other = (2L to 100L).find(k =>
      !touched.contains(ps.touchedBy(state(Seq((k, 0L)))).head)).get
    val bad = ps.readPartitions(touched)
      .unionByName(state(Seq((other, 1L))))
    val e = intercept[Exception] { ps.refresh(touched, bad) }
    assert(e.getMessage != null)
    assert(ps.read().count() === 3) // store unharmed
  }

  test("a schema-drifting refresh is rejected BEFORE any write") {
    // a decayed type (lost DECIMAL cast, renamed column) must not commit
    // parquet the pinned-schema read path can never decode again
    val ps = newStore()
    ps.init(state(Seq((1L, 10L), (2L, 20L))))
    val touched = ps.touchedBy(state(Seq((1L, 0L))))
    val drifted = ps.readPartitions(touched)
      .select(col("k"), col("v").cast("double").as("v"))
    val e = intercept[IllegalArgumentException] {
      ps.refresh(touched, drifted)
    }
    assert(e.getMessage.contains("pinned schema"))
    assert(ps.read().count() === 2) // store untouched
  }

  private def applyDelta(ps: PartitionedStore,
      delta: Seq[(Long, Long)]): Seq[Int] = {
    val d = state(delta)
    val touched = ps.touchedBy(d)
    val cur = ps.readPartitions(touched)
    ps.refresh(touched,
      cur.join(d.withColumnRenamed("v", "nv"), Seq("k"), "left")
        .select(col("k"), coalesce(col("nv"), col("v")).as("v")))
    touched
  }

  test("time travel: readAsOf resolves each retained commit exactly; version diff = changeset") {
    val root = Scratch.dir("graft_pstore")
    val ps = new PartitionedStore(spark, root, Seq("k"), 8,
      retainVersions = 3)
    val rows = (0L until 64L).map(i => (i, i * 10))
    ps.init(state(rows))
    assert(ps.version() === 1)
    applyDelta(ps, Seq((1L, 999L), (2L, 888L))) // v2
    applyDelta(ps, Seq((5L, 777L)))             // v3
    assert(ps.version() === 3)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    val v1 = asMap(ps.readAsOf(1)); val v2 = asMap(ps.readAsOf(2))
    val v3 = asMap(ps.readAsOf(3))
    assert(v1 === rows.toMap)
    assert(v2 === rows.toMap ++ Map(1L -> 999L, 2L -> 888L))
    assert(v3 === v2 ++ Map(5L -> 777L))
    assert(asMap(ps.read()) === v3) // current == latest version
    // diff(asOf n, asOf n+1) IS the committed changeset — the property
    // that makes a snapshot diff consumable without retaining both tables
    val changed = ps.readAsOf(3).except(ps.readAsOf(2))
      .as[(Long, Long)].collect().toSet
    assert(changed === Set((5L, 777L)))
    val removed = ps.readAsOf(2).except(ps.readAsOf(3))
      .as[(Long, Long)].collect().toSet
    assert(removed === Set((5L, 50L)))
  }

  test("retention: versions beyond the window are vacuumed and fail loudly; retain=1 is eager") {
    val root = Scratch.dir("graft_pstore")
    val ps = new PartitionedStore(spark, root, Seq("k"), 8,
      retainVersions = 1)
    ps.init(state(Seq((1L, 10L), (2L, 20L), (3L, 30L))))
    applyDelta(ps, Seq((1L, 11L))) // v2; retain=1 vacuums v1 at commit
    val e = intercept[IllegalArgumentException] { ps.readAsOf(1) }
    assert(e.getMessage.contains("not readable"))
    assert(ps.readAsOf(2).count() === 3)
    // a version never committed is rejected too (not a file-missing crash)
    val e2 = intercept[IllegalArgumentException] { ps.readAsOf(9) }
    assert(e2.getMessage.contains("not readable"))
  }

  test("a reader pinned to an old version survives a concurrent refresh (retained window)") {
    val root = Scratch.dir("graft_pstore")
    val ps = new PartitionedStore(spark, root, Seq("k"), 8) // retain = 2
    ps.init(state(Seq((1L, 10L), (2L, 20L))))
    val pinned = ps.readAsOf(1) // lazy — resolves v1's dirs at collect time
    applyDelta(ps, Seq((1L, 99L))) // v2 commits, v1 dirs retained
    assert(pinned.as[(Long, Long)].collect().toMap ===
      Map(1L -> 10L, 2L -> 20L))
    assert(ps.read().as[(Long, Long)].collect().toMap ===
      Map(1L -> 99L, 2L -> 20L))
  }

  test("re-init restarts the lineage at v1 — stale versioned manifests do not resolve") {
    val root = Scratch.dir("graft_pstore")
    val ps = new PartitionedStore(spark, root, Seq("k"), 8,
      retainVersions = 5)
    ps.init(state(Seq((1L, 10L))))
    applyDelta(ps, Seq((1L, 11L))) // v2
    ps.init(state(Seq((1L, 42L)))) // a new life
    assert(ps.version() === 1)
    assert(ps.readAsOf(1).as[(Long, Long)].collect().toSeq === Seq((1L, 42L)))
    intercept[IllegalArgumentException] { ps.readAsOf(2) }
  }

  test("retention: a version falling OUT of a retain>=2 window has its " +
      "exclusive stamp dirs reclaimed (not just retain=1's eager path)") {
    import scala.jdk.CollectionConverters._
    val root = Scratch.dir("graft_pstore")
    val ps = new PartitionedStore(spark, root, Seq("k"), 4,
      retainVersions = 2)
    def stamps(): Set[String] = {
      val s = Files.list(Paths.get(root))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("(init|refresh)\\d+")).toSet
      finally s.close()
    }
    val all = (0L until 32L).map(i => (i, i))
    ps.init(state(all)) // v1, stamp A
    val a = stamps()
    assert(a.size === 1)
    def refreshAll(bump: Long): Unit =
      ps.refresh((0 until 4), state(all.map { case (k, _) => (k, k + bump) }))
    refreshAll(100) // v2, stamp B — v1 still retained, A must survive
    assert(stamps().size === 2)
    refreshAll(200) // v3, stamp C — v1 vacuumed: A (its exclusive dirs) gone
    val afterV3 = stamps()
    assert(afterV3.size === 2, s"stamp A not reclaimed: $afterV3")
    assert(!afterV3.contains(a.head))
    // the retained window stays fully readable
    assert(ps.readAsOf(2).as[(Long, Long)].collect().toMap ===
      all.map { case (k, _) => (k, k + 100) }.toMap)
    assert(ps.readAsOf(3).count() === 32)
    intercept[IllegalArgumentException] { ps.readAsOf(1) }
  }

  test("schema evolution: additive column committed with touched partitions " +
      "only; old rows read NULL; time travel keeps each version's schema") {
    val root = Scratch.dir("graft_pstore")
    val ps = new PartitionedStore(spark, root, Seq("k"), 8,
      retainVersions = 4)
    // each version's schema rides in its own manifest: the root never
    // holds a separate schema file
    def assertNoSchemaFile(after: String): Unit = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(root))
      val names = try s.iterator().asScala.map(_.getFileName.toString).toList
        finally s.close()
      assert(!names.exists(_.startsWith("schema")),
        s"schema file at the root after $after: $names")
    }
    ps.init(state(Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))) // v1
    assertNoSchemaFile("init")
    // v2: EVOLVE — add nullable w, rewriting only keys-1,2's partitions
    val touched = ps.touchedBy(Seq(Tuple1(1L), Tuple1(2L)).toDF("k"))
    val evolved = ps.readPartitions(touched).withColumn("w",
      when(col("k") === 1, 100L).when(col("k") === 2, 200L)
        .otherwise(lit(null).cast("long")))
    ps.evolve(touched, evolved)
    assert(ps.version() === 2)
    assertNoSchemaFile("evolve")
    // current read: evolved schema everywhere; untouched partitions'
    // parquet was NOT rewritten — their rows surface w = NULL
    assert(ps.read().columns.toSeq === Seq("k", "v", "w"))
    val got = ps.read().as[(Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(1L -> ((10L, Some(100L))), 2L -> ((20L, Some(200L))),
      3L -> ((30L, None)), 4L -> ((40L, None))))
    // time travel BEFORE the evolution: the column does not exist yet
    assert(ps.readAsOf(1).columns.toSeq === Seq("k", "v"))
    assert(ps.readAsOf(1).as[(Long, Long)].collect().toMap ===
      Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L))
    // the pinned schema moved: an old-shape refresh is now rejected...
    val e = intercept[IllegalArgumentException] {
      ps.refresh(touched, state(Seq((1L, 12L))))
    }
    assert(e.getMessage.contains("does not match"))
    // ...and a new-shape refresh (v3, carrying v2's schema over) keeps
    // resolving the evolved schema for both current and as-of reads
    val t2 = ps.touchedBy(Seq(Tuple1(1L)).toDF("k"))
    ps.refresh(t2, ps.readPartitions(t2).withColumn("w",
      when(col("k") === 1, 101L).otherwise(col("w"))))
    assertNoSchemaFile("refresh")
    assert(ps.readAsOf(3).columns.toSeq === Seq("k", "v", "w"))
    assert(ps.readAsOf(1).columns.toSeq === Seq("k", "v"))
    // guards: dropped column / type change / non-nullable add / no-op
    val cur = ps.readPartitions(touched)
    intercept[IllegalArgumentException] { ps.evolve(touched, cur.drop("w")) }
    intercept[IllegalArgumentException] {
      ps.evolve(touched, cur.withColumn("v", col("v").cast("int"))
        .withColumn("x", lit(null).cast("long")))
    }
    intercept[IllegalArgumentException] {
      ps.evolve(touched, cur.withColumn("x", lit(1L))) // non-nullable
    }
    intercept[IllegalArgumentException] { ps.evolve(touched, cur) } // no adds
  }

  test("append commit: O(delta) write — existing dirs stay referenced and " +
      "untouched, read = old ∪ delta, refresh compacts, time travel holds") {
    val root = Scratch.dir("graft_pstore")
    val ps = new PartitionedStore(spark, root, Seq("k"), 4,
      retainVersions = 3)
    val base = (0L until 32L).map(i => (i, i))
    ps.init(state(base)) // v1
    val before = ps.manifest()
    val delta = Seq((100L, 1L), (101L, 2L), (102L, 3L))
    val touched = ps.touchedBy(state(delta))
    ps.append(touched, state(delta)) // v2
    val after = ps.manifest()
    // every touched partition KEEPS its old dir (prefix of the list) and
    // gains exactly one appended dir; untouched entries are identical
    touched.foreach { i =>
      assert(after(i).startsWith(before(i) + ";"),
        s"partition $i: ${after(i)} does not extend ${before(i)}")
      assert(after(i).split(";").length === before(i).split(";").length + 1)
    }
    (before.keySet -- touched.toSet).foreach(i =>
      assert(after(i) === before(i), s"untouched partition $i moved"))
    assert(ps.read().as[(Long, Long)].collect().toMap ===
      (base ++ delta).toMap)
    // appending again stacks another dir; readAsOf still resolves each cut
    ps.append(ps.touchedBy(state(Seq((200L, 9L)))),
      state(Seq((200L, 9L)))) // v3
    assert(ps.readAsOf(1).count() === 32)
    assert(ps.readAsOf(2).count() === 35)
    assert(ps.readAsOf(3).count() === 36)
    // a refresh of one appended partition compacts its list back to one dir
    val t = Seq(touched.head)
    ps.refresh(t, ps.readPartitions(t)) // v4, same content
    assert(ps.manifest()(t.head).split(";").length === 1)
    assert(ps.read().as[(Long, Long)].collect().toMap ===
      (base ++ delta ++ Seq((200L, 9L))).toMap)
    // schema drift on append is rejected before any write
    intercept[IllegalArgumentException] {
      ps.append(Seq(0), state(Seq((300L, 1L)))
        .select(col("k"), col("v").cast("double").as("v")))
    }
  }

  test("two racing commits: exactly one wins, the loser names the conflict, " +
      "the store stays readable at the winner's version") {
    // Deterministic interleaving: the loser's newState carries a one-shot
    // task-side hook that fires DURING its data write (i.e. after it read
    // the manifest version, before its commit lock) — a driver-side thread
    // then lands a full interfering commit and releases the task. The
    // loser's version CAS must fail loudly; the interferer's retention
    // sweep must NOT have reclaimed the loser's in-flight stamp dirs
    // mid-write (the in-flight registry), and the winner's commit must be
    // fully intact afterwards.
    val root = Scratch.dir("graft_pstore")
    val ps = new PartitionedStore(spark, root, Seq("k"), 4)
    val all = (0L until 32L).map(i => (i, i))
    ps.init(state(all)) // v1
    RaceHook.reset()
    val interferer = new Thread(() => {
      RaceHook.loserWriting.await()
      // a full commit from a SEPARATE instance over the same root — the
      // realistic two-scheduled-refreshes-of-one-view race
      val ps2 = new PartitionedStore(spark, root, Seq("k"), 4)
      ps2.refresh((0 until 4),
        state(all.map { case (k, _) => (k, k + 100) })) // v2
      RaceHook.interfererDone.countDown()
    })
    interferer.start()
    import spark.implicits._
    val loserState = state(all.map { case (k, _) => (k, k + 777) })
      .as[(Long, Long)].mapPartitions { it => RaceHook.pause(); it }
      .toDF("k", "v")
    val e = intercept[java.util.ConcurrentModificationException] {
      ps.refresh((0 until 4), loserState)
    }
    interferer.join(120000)
    assert(e.getMessage.contains("concurrent commit"))
    assert(e.getMessage.contains("version 1") &&
      e.getMessage.contains("now at 2"))
    // the winner's commit is the live state, fully readable
    assert(ps.version() === 2)
    assert(ps.read().as[(Long, Long)].collect().toMap ===
      all.map { case (k, _) => (k, k + 100) }.toMap)
    // the loser's torn-down stamp left no orphans; the winner's retained
    // lineage (init v1 + refresh v2 at retain=2) is all that remains
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(root))
    val stamps = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("(init|refresh)\\d+")).toSet finally s.close()
    assert(stamps.size === 2, s"expected init+winner stamps only: $stamps")
  }

  test("cross-process commit arbiter: a pre-existing manifest.v<N+1> (a " +
      "second writer process, or a crashed writer's orphan) makes the " +
      "commit lose loudly and tear down — and never deletes the file") {
    val root = Scratch.dir("graft_pstore")
    val ps = new PartitionedStore(spark, root, Seq("k"), 4)
    val all = (0L until 32L).map(i => (i, i))
    ps.init(state(all)) // v1
    // simulate the window the in-JVM lock cannot see: another PROCESS has
    // created the next version's arbiter file but not yet swapped the
    // pointer (equivalently: a crashed writer left it orphaned)
    val planted = Paths.get(root, "manifest.v2")
    Files.write(planted, "planted-by-other-process\n".getBytes("UTF-8"))
    val plantedBytes = Files.readAllBytes(planted).toSeq
    val e = intercept[java.util.ConcurrentModificationException] {
      ps.refresh(Seq(0), ps.readPartitions(Seq(0)))
    }
    assert(e.getMessage.contains("commit arbiter"))
    assert(e.getMessage.contains("manifest.v2"))
    // the loser tore its partial dirs down and the store is untouched at v1
    assert(ps.version() === 1)
    assert(ps.read().as[(Long, Long)].collect().toMap === all.toMap)
    import scala.jdk.CollectionConverters._
    def stamps() = {
      val s = Files.list(Paths.get(root))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("(init|refresh)\\d+")).toSet finally s.close()
    }
    assert(stamps().size === 1, s"loser left stamp dirs behind: ${stamps()}")
    // crucially the loser did NOT delete the other writer's arbiter file
    assert(Files.readAllBytes(planted).toSeq === plantedBytes,
      "a losing commit must never remove the winning process's manifest")
    // operator remediation for the crash-orphan case: delete the
    // unacknowledged file and retry — the commit then lands normally
    Files.delete(planted)
    ps.refresh(Seq(0), ps.readPartitions(Seq(0))
      .withColumn("v", col("v") + 1000))
    assert(ps.version() === 2)
    assert(ps.read().filter(col("v") >= 1000).count() ===
      ps.readPartitions(Seq(0)).count())
  }

  test("randomized append/refresh/evolve sequences track an in-memory " +
      "model — multi-dir entries survive arbitrary interleaving") {
    // deterministic LCG drives 24 mixed commits against a 3-partition
    // store; after every commit the store must equal the model map and
    // every retained as-of version must equal its recorded snapshot.
    // This is the round's riskiest surface (';'-joined dir lists feeding
    // read/readAsOf/readPartitions/vacuum) under sequencing no single
    // hand-written case covers.
    val root = Scratch.dir("graft_pstore")
    val ps = new PartitionedStore(spark, root, Seq("k"), 3,
      retainVersions = 3)
    var seed = 0x5DEECE66DL
    def rnd(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n).toInt + n) % n
    }
    var model = (0L until 12L).map(k => k -> k).toMap
    ps.init(state(model.toSeq))
    var nextId = 1000L
    val snapshots = scala.collection.mutable.Map(1 -> model)
    var version = 1
    def modelDf(keys: Iterable[Long]) =
      state(keys.map(k => (k, model(k))).toSeq)
    for (_ <- 1 to 24) {
      rnd(3) match {
        case 0 => // append 1-3 brand-new keys
          val fresh = (0 until 1 + rnd(3)).map { _ =>
            nextId += 1; nextId -> (nextId * 7)
          }
          model ++= fresh
          ps.append(ps.touchedBy(state(fresh)), state(fresh))
        case 1 => // refresh: mutate 1-2 random keys, committing the FULL
          // new content of exactly their partitions (compacts dir lists)
          val victims = model.keys.toSeq.sorted
            .slice(rnd(model.size), model.size).take(1 + rnd(2))
          val partOf = state(model.toSeq)
            .select(col("k"), ps.partitionId.as("p"))
            .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
          val touched = victims.map(partOf).distinct.sorted
          victims.foreach(k => model += k -> (model(k) + 1))
          val content = model.keys.filter(k => touched.contains(partOf(k)))
          ps.refresh(touched, modelDf(content))
        case 2 => // no-op-ish small append again (keeps dir lists growing)
          nextId += 1
          val fresh = Seq(nextId -> (nextId * 13))
          model ++= fresh
          ps.append(ps.touchedBy(state(fresh)), state(fresh))
      }
      version += 1
      snapshots(version) = model
      assert(ps.version() === version)
      assert(ps.read().as[(Long, Long)].collect().toMap === model,
        s"store diverged from model at v$version")
      // every RETAINED version must replay its recorded snapshot
      val keepFrom = math.max(1, version - 3 + 1)
      for (v <- keepFrom to version)
        assert(ps.readAsOf(v).as[(Long, Long)].collect().toMap ===
          snapshots(v), s"as-of v$v diverged (current v$version)")
      intercept[IllegalArgumentException] {
        ps.readAsOf(math.max(0, keepFrom - 2))
      }
    }
  }

  test("partition routing agrees between state and delta by construction") {
    val ps = newStore(16)
    val keys = (0L until 200L).map(k => Tuple1(k)).toDF("k")
    val ids = keys.select(ps.partitionId.as("p")).distinct()
      .as[Int].collect().toSet
    assert(ids.subsetOf((0 until 16).toSet))
    assert(ids.size > 8) // xxhash64 spreads across most partitions
  }
}

/** Static rendezvous for the racing-commit test: the loser's write tasks
  * call [[pause]] (one-shot), which wakes the driver-side interferer and
  * blocks until its commit lands. An `object` so local-mode executor
  * threads (same JVM) share the latches with the driver. */
object RaceHook {
  import java.util.concurrent.{CountDownLatch, TimeUnit}
  import java.util.concurrent.atomic.AtomicBoolean
  @volatile var loserWriting: CountDownLatch = _
  @volatile var interfererDone: CountDownLatch = _
  private val fired = new AtomicBoolean(false)
  def reset(): Unit = {
    loserWriting = new CountDownLatch(1)
    interfererDone = new CountDownLatch(1)
    fired.set(false)
  }
  def pause(): Unit =
    if (fired.compareAndSet(false, true)) {
      loserWriting.countDown()
      if (!interfererDone.await(120, TimeUnit.SECONDS))
        throw new IllegalStateException("interfering commit never landed")
    }
}
