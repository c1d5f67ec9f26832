package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.{Ann, IvfCore, IvfIndex, KMeans, PqCodec, RawCodec, RotatingIvf}
import graft.store.PartitionedStore
import graft.util.Scratch

/** Crash-point injection over the commit protocols: every documented
  * crash window in [[PartitionedStore]] commits (orphan `manifest.v<N>`,
  * an evolution's schema visible only with its manifest,
  * sweep-after-visibility), [[IvfIndex]]
  * build (meta-invalidated-before-init) and
  * [[graft.similarity.RotatingIvf]] rebuild (build-before-swap,
  * pointer-tmp, promote-before-reclaim) is EXECUTED, not just reasoned
  * about in comments. Mechanism: the production classes expose a no-op
  * `onStep` seam after each ordered commit step; the spec's hook copies
  * the store root at the target step — the copy IS the exact on-disk
  * state a `kill -9` at that point leaves (the commit then finishes
  * normally on the original root) — and a fresh instance is reopened
  * over the copy to assert: readers still resolve the old view, the
  * version pointer never acknowledges orphans, the documented remediation
  * unblocks the next commit, and recovery sweeps never reclaim the
  * survivor's files. Throwing hooks separately pin the GRACEFUL failure
  * path: teardown removes only the failing commit's own files and the
  * next commit needs no manual remediation. The reference analog is the
  * temp→final atomic-rename crash story in
  * `aleph2_analytic_services_hadoop/.../services/HfdsDataWriteService
  * .java:537-560`, which trusts the same
  * nothing-visible-until-the-last-rename discipline this spec executes
  * window by window. */
class FaultInjectionSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import java.{util => ju}

  // ---- harness -----------------------------------------------------------

  /** Byte-copy `src` into a fresh temp dir — the simulated crash image. */
  private def crashImage(src: String, tag: String): Path = {
    val dst = Paths.get(Scratch.dir(s"graft_crash_$tag"))
    import scala.jdk.CollectionConverters._
    val srcP = Paths.get(src)
    val w = Files.walk(srcP)
    try w.iterator().asScala.foreach { p =>
      val t = dst.resolve(srcP.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    } finally w.close()
    dst
  }

  private def kv(n: Long, mul: Long) =
    spark.range(n).select(col("id").as("k"), (col("id") * mul).as("v"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def newStore(root: String, retain: Int = 2) =
    new PartitionedStore(spark, root, Seq("k"), 4, retainVersions = retain)

  private def listNames(root: String, prefix: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(root))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(prefix)).toSet finally s.close()
  }

  // ---- PartitionedStore commit windows ------------------------------------

  test("store commit killed after EACH ordered step: old view resolves, " +
      "orphans are never acknowledged, the documented remediation unblocks, " +
      "recovery sweeps spare the survivor's files") {
    val root = Scratch.dir("graft_fault_store")
    val store = newStore(root)
    store.init(kv(40, 1))               // v1
    store.refresh(0 until 4, kv(40, 2)) // v2
    store.refresh(0 until 4, kv(40, 3)) // v3  (v3's sweep reclaims manifest.v1)
    val c3 = rows(store.read())
    // one instrumented commit (→ v4), crash images at three ordered steps
    val snaps = scala.collection.mutable.Map[String, Path]()
    store.onStep = s =>
      if (Set("dataWritten", "linkedManifest", "pointerSwapped")(s))
        snaps.getOrElseUpdate(s, crashImage(root, s))
    store.refresh(0 until 4, kv(40, 4)) // v4 commits normally on the original
    store.onStep = _ => ()
    val c4 = rows(store.read())
    assert(snaps.keySet === Set("dataWritten", "linkedManifest", "pointerSwapped"))

    // -- killed after the data write, before the arbiter link --------------
    locally {
      val s = newStore(snaps("dataWritten").toString)
      assert(s.version() === 3, "uncommitted data must not advance the version")
      assert(rows(s.read()) === c3, "readers must resolve the old view")
      intercept[IllegalArgumentException] { s.readAsOf(4) } // never acknowledged
      val orphanStamps = listNames(s.root, "refresh")
      // recovery needs NO remediation: the next commit wins version 4 and
      // its sweep reclaims the crashed commit's unreferenced stamp dir
      s.refresh(0 until 4, kv(40, 9))
      assert(s.version() === 4 && rows(s.read()) === rows(kv(40, 9)))
      val survivors = listNames(s.root, "refresh")
      assert(orphanStamps.diff(survivors).nonEmpty,
        s"crashed stamp dirs were never swept: $survivors")
      assert(rows(s.readAsOf(3)) === c3, "sweep reclaimed the survivor's dirs")
    }

    // -- killed after the manifest.v4 hard link, before the pointer swap ---
    locally {
      val s = newStore(snaps("linkedManifest").toString)
      assert(s.version() === 3, "version() acknowledged an orphan manifest.v4")
      assert(rows(s.read()) === c3)
      // the orphan is on disk but time travel refuses it loudly
      assert(Files.exists(Paths.get(s.root, "manifest.v4")))
      val e0 = intercept[IllegalArgumentException] { s.readAsOf(4) }
      assert(e0.getMessage.contains("never committed"), e0.getMessage)
      // the next commit at version 4 is BLOCKED by the arbiter, loudly,
      // and the error names the remediation
      val e = intercept[ju.ConcurrentModificationException] {
        s.refresh(0 until 4, kv(40, 9))
      }
      assert(e.getMessage.contains("commit arbiter") &&
        e.getMessage.contains("delete it to recover"), e.getMessage)
      assert(s.version() === 3 && rows(s.read()) === c3,
        "blocked commit disturbed the store")
      // the documented remediation actually unblocks
      Files.delete(Paths.get(s.root, "manifest.v4"))
      s.refresh(0 until 4, kv(40, 9))
      assert(s.version() === 4 && rows(s.read()) === rows(kv(40, 9)))
      assert(rows(s.readAsOf(3)) === c3, "remediated commit lost the survivor")
    }

    // -- killed after the pointer swap, before the retention sweep ---------
    locally {
      val s = newStore(snaps("pointerSwapped").toString)
      // the commit IS visible — the swap is the one visibility switch
      assert(s.version() === 4)
      assert(rows(s.read()) === c4)
      assert(rows(s.readAsOf(3)) === c3)
      // the crash skipped the sweep: stale manifest.v2 lingers beyond the
      // retainVersions=2 window; the NEXT commit's sweep retries it
      assert(Files.exists(Paths.get(s.root, "manifest.v2")),
        "fixture: expected the stale manifest the crashed sweep left")
      s.refresh(0 until 4, kv(40, 9)) // v5
      assert(!Files.exists(Paths.get(s.root, "manifest.v2")) &&
        !Files.exists(Paths.get(s.root, "manifest.v3")),
        "recovery sweep did not reclaim beyond the retention window")
      assert(s.version() === 5 && rows(s.read()) === rows(kv(40, 9)))
      assert(rows(s.readAsOf(4)) === c4, "sweep reclaimed a RETAINED version")
      intercept[IllegalArgumentException] { s.readAsOf(3) } // now vacuumed
    }
  }

  test("evolve killed after EACH ordered step: the evolved columns show " +
      "only once the pointer swap lands, and a plain refresh after the " +
      "remediation commits the pre-evolution schema") {
    val root = Scratch.dir("graft_fault_evolve")
    val store = newStore(root)
    store.init(kv(40, 1)) // v1
    val c1 = rows(store.read())
    val snaps = scala.collection.mutable.Map[String, Path]()
    store.onStep = s =>
      if (Set("dataWritten", "linkedManifest", "pointerSwapped")(s))
        snaps.getOrElseUpdate(s, crashImage(root, s))
    store.evolve(0 until 4,
      kv(40, 2).withColumn("extra", lit(null).cast("long"))) // v2 commits
    store.onStep = _ => ()
    assert(snaps.keySet === Set("dataWritten", "linkedManifest", "pointerSwapped"))

    for (step <- Seq("dataWritten", "linkedManifest")) {
      val s = newStore(snaps(step).toString)
      assert(s.version() === 1, s"$step: the evolution was acknowledged")
      // the schema in force is the PRE-evolution one — a reader must never
      // see the added column before the manifest that carries it
      for (sc <- Seq(s.schema, s.read().schema, s.readAsOf(1).schema))
        assert(sc.fieldNames.toSeq === Seq("k", "v"),
          s"$step: phantom column: ${sc.simpleString}")
      assert(rows(s.read()) === c1)
      intercept[IllegalArgumentException] { s.readAsOf(2) }
      val orphan = Paths.get(s.root, "manifest.v2")
      assert(Files.exists(orphan) === (step == "linkedManifest"),
        s"$step fixture: the orphan manifest.v2 is the link's alone")
      // remediation (delete the orphan manifest, if the crash left one),
      // then a PLAIN refresh at version 2 commits the pre-evolution schema
      Files.deleteIfExists(orphan)
      s.refresh(0 until 4, kv(40, 5))
      assert(s.version() === 2)
      assert(s.schema.fieldNames.toSeq === Seq("k", "v"))
      assert(s.readAsOf(2).schema.fieldNames.toSeq === Seq("k", "v"))
      assert(rows(s.readAsOf(2)) === rows(kv(40, 5)))
    }

    // -- killed after the pointer swap: the evolution IS committed ---------
    locally {
      val s = newStore(snaps("pointerSwapped").toString)
      assert(s.version() === 2)
      assert(s.schema.fieldNames.toSeq === Seq("k", "v", "extra"))
      assert(s.read().schema.fieldNames.toSeq === Seq("k", "v", "extra"))
      assert(s.readAsOf(2).schema.fieldNames.toSeq === Seq("k", "v", "extra"))
      assert(s.readAsOf(1).schema.fieldNames.toSeq === Seq("k", "v"))
      assert(rows(s.readAsOf(1)) === c1)
    }
  }

  test("GRACEFUL failure at each step (hook throws): teardown removes only " +
      "the failing commit's own files and the next commit needs no manual " +
      "remediation — unlike a crash") {
    for (step <- Seq("dataWritten", "casChecked", "linkedManifest")) {
      val root = Scratch.dir(s"graft_fault_grace")
      val store = newStore(root)
      store.init(kv(40, 1))
      val c1 = rows(store.read())
      store.onStep = s =>
        if (s == step) throw new RuntimeException(s"planted@$step")
      val e = intercept[RuntimeException] { store.refresh(0 until 4, kv(40, 2)) }
      assert(e.getMessage === s"planted@$step")
      store.onStep = _ => ()
      // teardown: the store is byte-identically at v1, the failing
      // commit's stamp dirs AND its arbiter link are gone
      assert(store.version() === 1 && rows(store.read()) === c1)
      assert(!Files.exists(Paths.get(root, "manifest.v2")),
        s"graceful failure at $step left an orphan arbiter link")
      assert(listNames(root, "refresh").isEmpty,
        s"graceful failure at $step left stamp dirs")
      // and — the contrast with the crash cases above — the retry commits
      // with no remediation at all
      store.refresh(0 until 4, kv(40, 3))
      assert(store.version() === 2 && rows(store.read()) === rows(kv(40, 3)))
    }
  }

  test("GRACEFUL failure AFTER the visibility switch (hook throws): the " +
      "commit stands, and the next commit sweeps what the skipped reclaim " +
      "left") {
    // PartitionedStore: a throwing pointerSwapped hook
    locally {
      val root = Scratch.dir("graft_fault_grace_post")
      val store = newStore(root)
      store.init(kv(40, 1))
      store.onStep = s =>
        if (s == "pointerSwapped") throw new RuntimeException("planted@pointerSwapped")
      store.refresh(0 until 4, kv(40, 2)) // the swap landed: no error
      store.onStep = _ => ()
      assert(store.version() === 2 && rows(store.read()) === rows(kv(40, 2)))
      assert(rows(store.readAsOf(1)) === rows(kv(40, 1)))
    }
    // BucketStore: a throwing rolesReplaced hook
    locally {
      import graft.model.Bucket
      import graft.store.BucketStore
      val rootDir = Scratch.dir("graft_fault_grace_bucket")
      val store = new BucketStore(spark, rootDir)
      val b = Bucket("/test/fault_post")
      val stage = Paths.get(rootDir, b.signature, "processed").toString
      def gen(tag: Int) = spark.range(100).select(lit(tag).as("g"), col("id"))
      def content = store.read(b).groupBy("g").count().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      store.write(b, gen(0))
      store.rewrite(b, "processed")(_ => gen(1))
      store.onStep = s =>
        if (s == "rolesReplaced") throw new RuntimeException("planted@rolesReplaced")
      store.rewrite(b, "processed")(_ => gen(2)) // the switch landed: no error
      store.onStep = _ => ()
      assert(content === Seq((2, 100L)))
      // the skipped sweep left the demoted primary beside the one _ROLES names
      def live = Paths.get(store.stagePath(b)).getFileName.toString
      assert(listNames(stage, "v_").size === 2)
      assert(listNames(stage, "v_").contains(live))
      // the next rewrite commits and sweeps that debris
      store.rewrite(b, "processed")(_ => gen(3))
      assert(content === Seq((3, 100L)))
      assert(listNames(stage, "v_") === Set(live))
      assert(listNames(stage, "").filter(n => n != "_ROLES" &&
        !n.startsWith("v_")).isEmpty)
    }
  }

  // ---- BucketStore commit windows ------------------------------------------

  test("BucketStore rewrite killed after EACH ordered step: readers resolve " +
      "a whole generation (old until the pointer switch, new after), and the " +
      "next promote's orphan sweep reclaims every crash leftover") {
    import graft.model.Bucket
    import graft.store.BucketStore
    val rootDir = Scratch.dir("graft_fault_bucket")
    val store = new BucketStore(spark, rootDir)
    val b = Bucket("/test/fault")
    def gen(tag: Int) =
      spark.range(100).select(lit(tag).as("g"), col("id"))
    def tagOf(s: BucketStore): (Int, Long) = {
      val rows = s.read(b).groupBy("g").count().collect()
      assert(rows.length === 1, s"mixed generations: ${rows.mkString(", ")}")
      (rows(0).getInt(0), rows(0).getLong(1))
    }
    def names(root: String, pred: String => Boolean): Set[String] = {
      val stage = Paths.get(root, b.signature, "processed")
      if (!Files.exists(stage)) return Set.empty
      import scala.jdk.CollectionConverters._
      val s = Files.list(stage)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(pred).toSet finally s.close()
    }
    store.write(b, gen(0))
    store.rewrite(b, "processed")(_ => gen(1))
    assert(tagOf(store) === ((1, 100L)))
    val snaps = scala.collection.mutable.Map[String, Path]()
    store.onStep = s =>
      if (Set("versionWritten", "rolesReplaced")(s))
        snaps.getOrElseUpdate(s, crashImage(rootDir, s))
    store.rewrite(b, "processed")(_ => gen(2)) // completes on the original
    store.onStep = _ => ()
    assert(snaps.keySet === Set("versionWritten", "rolesReplaced"))

    for ((step, snap) <- snaps) {
      val s = new BucketStore(spark, snap.toString)
      // visibility contract: the _ROLES replace is the ONE boundary
      val expectedTag = if (step == "versionWritten") 1 else 2
      assert(tagOf(s) === ((expectedTag, 100L)),
        s"$step: reader did not resolve a whole generation")
      // the crash left exactly the debris the step implies: the new version
      // _ROLES does not name yet, or the demoted primary it no longer names
      assert(names(snap.toString, _.startsWith("v_")).size === 2,
        s"$step fixture: expected one unnamed v_ dir beside the live one")
      // recovery: one more rewrite both commits AND sweeps the debris
      s.rewrite(b, "processed")(_ => gen(9))
      assert(tagOf(s) === ((9, 100L)), s"$step: recovery rewrite wrong")
      assert(names(snap.toString, _.startsWith("v_")).size === 1,
        s"$step: crash debris v_ dirs survived the recovery sweep: " +
          names(snap.toString, _.startsWith("v_")))
      assert(names(snap.toString, _.contains(".tmp")).isEmpty,
        s"$step: _ROLES tmp debris survived")
    }
    // the original (uncrashed) store ends clean too: _ROLES and the one
    // dir it names
    assert(tagOf(store) === ((2, 100L)))
    assert(names(rootDir, _ => true) ===
      Set("_ROLES", Paths.get(store.stagePath(b)).getFileName.toString))
  }

  test("a buffer's second promote never aliases the primary: at every " +
      "crash point the roles name different dirs, and a buffer overwrite " +
      "leaves the primary's data unchanged") {
    import graft.model.Bucket
    import graft.store.BucketStore
    val rootDir = Scratch.dir("graft_fault_promote")
    val store = new BucketStore(spark, rootDir)
    val b = Bucket("/test/fault_promote")
    def gen(tag: Int) = spark.range(50).select(lit(tag).as("g"), col("id"))
    def dirs(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.map(f => Paths.get(new java.net.URI(f)).getParent).toSet
    def content(s: BucketStore, buffer: Option[String] = None) =
      s.read(b, buffer = buffer).groupBy("g").count().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
    store.write(b, gen(0))
    store.rewrite(b, "processed")(_ => gen(1))
    store.write(b, gen(2), buffer = Some("staging"))
    store.promote(b, "processed", "staging")
    store.write(b, gen(3), buffer = Some("staging"), mode =
      org.apache.spark.sql.SaveMode.Overwrite)
    val snaps = scala.collection.mutable.Map[String, Path]()
    store.onStep = s => snaps.getOrElseUpdate(s, crashImage(rootDir, s))
    store.promote(b, "processed", "staging")
    store.onStep = _ => ()
    assert(snaps.nonEmpty)
    assert(content(store) === Set((3, 50L)))
    assert(content(store, Some("staging")) === Set((2, 50L)))

    for ((step, snap) <- snaps) {
      val s = new BucketStore(spark, snap.toString)
      val primary = content(s)
      assert(dirs(s.read(b)).intersect(
        dirs(s.read(b, buffer = Some("staging")))).isEmpty,
        s"$step: current and buffer_staging resolve to one dir")
      s.write(b, gen(9), buffer = Some("staging"), mode =
        org.apache.spark.sql.SaveMode.Overwrite)
      assert(content(s) === primary,
        s"$step: a buffer write changed the primary")
    }
  }

  // ---- IvfIndex build window (meta invalidated before init) ---------------

  test("IvfIndex rebuild killed around store.init: the drift baseline reads " +
      "loud 'not built' (never stale), the data still resolves, and a fresh " +
      "build recovers") {
    val emb = Tables.t(spark, TestSession.sf, "embeddings").cache()
    val base = emb.filter(col("vec_id") % 2 === 0)
    val cents = KMeans.train(base, "vec_id", "embedding", k = 4, iters = 2)
    val root = Scratch.dir("graft_fault_ivf")
    val idx = new IvfIndex(spark, root, 4)
    idx.build(base, cents)
    val baseCount = idx.store.read().count()
    val snaps = scala.collection.mutable.Map[String, Path]()
    idx.onStep = s =>
      if (Set("metaInvalidated", "storeInit")(s))
        snaps.getOrElseUpdate(s, crashImage(root, s))
    idx.build(emb, cents) // the instrumented rebuild, completes normally
    idx.onStep = _ => ()
    assert(snaps.keySet === Set("metaInvalidated", "storeInit"))

    for ((step, snap) <- snaps) {
      val s = new IvfIndex(spark, snap.toString, 4)
      // the window's whole point: NEVER a stale baseline silently
      // drift-checking the next life's appends — loud "not built"
      val e = intercept[IllegalArgumentException] { s.trainMeanD2 }
      assert(e.getMessage.contains("not built"), s"$step: ${e.getMessage}")
      intercept[IllegalArgumentException] {
        s.append(emb.limit(3), cents)
      }
      // the data itself still resolves (old corpus before init, new after)
      val n = s.store.read().count()
      assert(if (step == "metaInvalidated") n == baseCount
        else n == emb.count(), s"$step: unexpected corpus size $n")
      // recovery: a fresh build restores the full contract
      s.build(base, cents)
      assert(s.trainMeanD2 > 0.0)
      val q = emb.filter(col("vec_id") < 4)
      val got = s.serve(q, cents, k = 3, nprobe = 4)
        .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = Ann.bruteForceTopK(q, base, k = 3)
        .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"$step: recovered index serves wrong")
    }
  }

  // ---- IvfPqIndex build windows (meta gates the data↔codebook pairing) ----

  test("IvfPqIndex rebuild killed around codebook/store writes: every " +
      "model-dependent read fails loud 'not built' — a crash that leaves " +
      "NEW codebooks beside OLD-codebook codes can never ADC-serve the " +
      "mismatched pairing — and a fresh build recovers") {
    val emb = Tables.t(spark, TestSession.sf, "embeddings").cache()
    val base = emb.filter(col("vec_id") % 2 === 0)
    val cents = KMeans.train(base, "vec_id", "embedding", k = 4, iters = 2)
    val root = Scratch.dir("graft_fault_ivfpq")
    val idx = new IvfCore(spark, root, 4, PqCodec(m = 8, k = 16))
    idx.build(base, cents)
    val baseCount = idx.store.read().count()
    val snaps = scala.collection.mutable.Map[String, Path]()
    idx.onStep = s =>
      if (Set("metaInvalidated", "codebooksWritten", "storeInit")(s))
        snaps.getOrElseUpdate(s, crashImage(root, s))
    idx.build(emb, cents) // the instrumented rebuild, completes normally
    idx.onStep = _ => ()
    assert(snaps.keySet ===
      Set("metaInvalidated", "codebooksWritten", "storeInit"))

    val q = emb.filter(col("vec_id") < 4)
    for ((step, snap) <- snaps) {
      val s = new IvfCore(spark, snap.toString, 4,
        PqCodec(m = 8, k = 16))
      // the window's whole point: the meta file is the ONLY path to the
      // codebook pairing (subDim rides it), so after `codebooksWritten` —
      // new codebooks on disk, stored codes still from the OLD books —
      // every model-dependent surface is loudly unreachable rather than
      // silently serving mismatched ADC distances
      val e = intercept[IllegalArgumentException] { s.trainMeanD2 }
      assert(e.getMessage.contains("not built"), s"$step: ${e.getMessage}")
      intercept[IllegalArgumentException] { s.codebooks() }
      intercept[IllegalArgumentException] {
        s.serve(q, cents, k = 3, nprobe = 4, rerank = Int.MaxValue)
      }
      intercept[IllegalArgumentException] {
        s.neighborsWithin(q, cents, minSim = 0.30, nprobe = 4,
          rerank = Int.MaxValue)
      }
      intercept[IllegalArgumentException] { s.append(emb.limit(3), cents) }
      // the data itself still resolves (old corpus before init, new after)
      val n = s.store.read().count()
      assert(if (step == "storeInit") n == emb.count() else n == baseCount,
        s"$step: unexpected corpus size $n")
      // recovery: a fresh build restores the full contract, exactly
      s.build(base, cents)
      assert(s.trainMeanD2 > 0.0)
      val got = s.serve(q, cents, k = 3, nprobe = 4,
          rerank = Int.MaxValue)
        .select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = Ann.bruteForceTopK(q, base, k = 3)
        .select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"$step: recovered index serves wrong")
    }
  }

  // ---- RotatingIvf rebuild windows ----------------------------------------

  test("rotate killed after EACH ordered step: the pointer resolves a " +
      "whole generation (old before the swap, new after), orphan builds " +
      "and pointer tmps are reclaimed by the next rotate") {
    val emb = Tables.t(spark, TestSession.sf, "embeddings").cache()
    def cents(df: org.apache.spark.sql.DataFrame) =
      KMeans.train(df, "vec_id", "embedding", k = 4, iters = 2)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val q = emb.filter(col("vec_id") < 4)
    val corp1 = emb.filter(col("vec_id") % 2 === 0)
    val root = Scratch.dir("graft_fault_rot")
    val rot = new RotatingIvf(spark, root, nPartitions = 4, RawCodec)
    rot.build(corp1, cents(corp1))
    val g1 = rot.currentGen()
    rot.rebuild(emb, cents(emb))
    val g2 = rot.currentGen()
    val exact2 = pairs(Ann.bruteForceTopK(q, emb, k = 3))
    // instrumented third rotate over a disjoint half-corpus, so pre- and
    // post-swap views are DISTINGUISHABLE at every crash point
    val corp3 = emb.filter(col("vec_id") % 2 === 1)
    val exact3 = pairs(Ann.bruteForceTopK(q, corp3, k = 3))
    assert(exact2 !== exact3, "fixture degenerate: corpora rank equal")
    val snaps = scala.collection.mutable.Map[String, Path]()
    rot.rotator.onStep = s =>
      if (Set("genBuilt", "ptrWritten", "promoted")(s))
        snaps.getOrElseUpdate(s, crashImage(root, s))
    rot.rebuild(corp3, cents(corp3))
    rot.rotator.onStep = _ => ()
    val g3 = rot.currentGen()
    assert(snaps.keySet === Set("genBuilt", "ptrWritten", "promoted"))
    def gens(r: String) = listNames(r, "gen")

    // -- killed after the new generation is built, before the swap ---------
    for (step <- Seq("genBuilt", "ptrWritten")) {
      val s = new RotatingIvf(spark, snaps(step).toString, 4, RawCodec)
      assert(s.currentGen() === g2, s"$step: pointer moved before the swap")
      assert(pairs(s.serve(q, k = 3, nprobe = 4)) === exact2,
        s"$step: old view does not serve end to end")
      assert(gens(s.root) === Set(g1, g2, g3), s"$step fixture")
      if (step == "ptrWritten")
        assert(listNames(s.root, ".ptr").nonEmpty, "fixture: no pointer tmp")
      // the next rotate promotes atop the CURRENT generation and reclaims
      // the crashed orphan build (and any pointer tmp) in one pass
      s.rebuild(emb, cents(emb))
      val g4 = s.currentGen()
      assert(gens(s.root) === Set(g2, g4),
        s"$step: orphan build survived the recovery rotate: ${gens(s.root)}")
      assert(listNames(s.root, ".ptr").isEmpty, s"$step: pointer tmp leaked")
      assert(pairs(s.serve(q, k = 3, nprobe = 4)) === exact2)
    }

    // -- killed after the swap, before the reclaim --------------------------
    locally {
      val s = new RotatingIvf(spark, snaps("promoted").toString, 4, RawCodec)
      assert(s.currentGen() === g3, "the swap IS the promote")
      assert(pairs(s.serve(q, k = 3, nprobe = 4)) === exact3)
      assert(gens(s.root) === Set(g1, g2, g3),
        "fixture: expected the generations the crashed reclaim left")
      s.rebuild(emb, cents(emb))
      assert(gens(s.root) === Set(g3, s.currentGen()),
        s"recovery rotate did not reclaim the stale generations: ${gens(s.root)}")
      assert(pairs(s.serve(q, k = 3, nprobe = 4)) === exact2)
    }
    // the original (uncrashed) root kept its own contract throughout
    assert(pairs(rot.serve(q, k = 3, nprobe = 4)) === exact3)
    assert((g1 !== g2) && (g2 !== g3))
  }
}
