package graft.store

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Manifest-committed, hash-partitioned keyed state — the partitioned-
  * rewrite upgrade path SCALE.md §5 names for maintained aggregates/views
  * whose key space outgrows copy-on-write whole-table refresh
  * ([[BucketStore.rewrite]] is O(all keys) WRITE I/O per refresh; this is
  * O(touched partitions)).
  *
  * Layout: `root/manifest` is one small text file mapping partition id →
  * its physical data dirs (`<id> <dir>[;<dir>…]` per line, after header
  * rows naming the partition count, the version and the state schema as
  * `schema <json>`). Data dirs are NEVER renamed or mutated
  * while addressable — a refresh writes NEW dirs for the touched
  * partitions only (replacing their lists), an [[append]] ADDS one dir per
  * touched partition (O(delta) write I/O; the next refresh compacts), and
  * either replaces the manifest in ONE atomic rename. That single
  * rename is the all-partitions-at-once visibility switch: a concurrent
  * reader resolves either the old manifest (all old dirs) or the new one
  * (old untouched dirs + new touched dirs) — never a mix of view
  * versions, never a missing path. The same discipline holds on an object
  * store (big dir renames are O(files) copies, one small manifest object
  * CAN be swapped atomically) — this is exactly [[BucketStore]]'s `_ROLES`
  * indirection generalized from one dir per role to a partition map, the
  * "manifest-file indirection — one more small pointer level, same
  * discipline" SCALE.md sketches. One caveat: the cross-process commit
  * arbiter below is a hard link (local/NFS/HDFS-style filesystems); an
  * object-store port would express the same exactly-one-creates semantics
  * as a conditional PUT (If-None-Match / precondition-failed — the Delta
  * on S3 commit shape). A filesystem with NEITHER primitive cannot host
  * multi-process writers safely; there the link fails loudly rather than
  * silently degrading to last-write-wins.
  *
  * Partitioning: `pmod(xxhash64(key columns), nPartitions)` — computable
  * as a Catalyst expression on both the state and the delta, so the
  * refresh derives its touched-partition set from the delta WITHOUT
  * scanning state, and each refresh job shuffles only delta + touched
  * partitions' rows.
  *
  * Failure: a refresh that throws before commit deletes its partial new
  * dirs and leaves the manifest byte-identical — readers never see a
  * half-refresh (PartitionedRollupSpec poisons a refresh to pin this).
  *
  * Time travel (AS OF): every commit also writes an IMMUTABLE
  * `manifest.v<N>` copy before swapping the current pointer, so
  * [[readAsOf]] resolves any retained version's exact partition map and
  * the schema it was committed under, from that one file — the
  * lakehouse feature that makes a snapshot diff consumable without keeping
  * both tables around (diff(asOf n, asOf n+1) IS the committed changeset;
  * the spec pins that against the cdc-style anti-join). `retainVersions`
  * bounds the lineage: data dirs referenced by any retained manifest are
  * never reclaimed; older manifests and their unshared dirs are deleted at
  * the next commit (retainVersions = 1 reproduces the old eager-reclaim
  * behavior exactly). Reading a vacuumed version fails loudly.
  *
  * Schema evolution ([[evolve]]): additive only — new columns append
  * NULLABLE, committed like a refresh; untouched partitions' parquet is
  * never rewritten (the explicit read schema fills missing columns with
  * NULL), and the schema line every manifest carries keeps each retained
  * version decodable with the schema in force at its commit.
  *
  * Writer guard: commits carry a version CAS — each commit records the
  * manifest version it read, and re-checks it under the root's writer
  * monitor ([[Commit.lock]], shared with the other pointer-swap protocols)
  * immediately before the atomic swap. Two racing commits therefore
  * resolve exactly-one-wins: the loser throws
  * `ConcurrentModificationException` naming both versions, its partial
  * dirs are torn down, and the store stays readable at the winner's
  * version (the loser must re-derive its delta against the new version
  * and retry — optimistic concurrency, the Delta/Iceberg commit shape).
  * Writers in DIFFERENT processes are outside the lock's reach; for them
  * the CREATION of `manifest.v<N>` is the arbiter (an atomic hard-link —
  * exactly one writer of a given version can create it, the other fails
  * with the same ConcurrentModificationException before its pointer
  * swap), so cross-process racers also resolve exactly-one-wins. The
  * arbiter alone only holds while the contested version's file is still
  * on disk: a writer stalled for >= retainVersions commits could re-link
  * an ALREADY-SWEPT `manifest.v<N>` and then last-write-win the pointer
  * BACKWARDS over reclaimed dirs — so every commit re-reads the pointer
  * version again AFTER its link (once the link holds the name, no other
  * process can advance past it, making that re-read race-free) and
  * aborts if the store moved, closing the stale-writer window for any
  * retention setting. The recommended deployment remains one writer
  * process (a cross-process loser cannot distinguish a concurrent winner
  * from a crashed writer's orphan — the error message explains both)
  * plus unlimited readers.
  */
final class PartitionedStore(val spark: SparkSession, val root: String,
    val keyCols: Seq[String], val nPartitions: Int,
    val retainVersions: Int = 2) {
  import PartitionedStore._
  require(nPartitions > 0, "nPartitions must be positive")
  require(keyCols.nonEmpty, "at least one key column")
  require(retainVersions >= 1, "retainVersions must be >= 1")

  /** Reserved partition-id column used inside refresh jobs. */
  val PartCol = "__kp"

  /** Test-only fault-injection seam: invoked after each ordered step of a
    * commit (`dataWritten`, `casChecked`, `linkedManifest`,
    * `pointerSwapped`) so FaultInjectionSpec can snapshot the exact
    * on-disk state a crash at that point would leave — or throw, to
    * exercise the graceful-teardown path at that step. No-op in
    * production. */
  private[graft] var onStep: String => Unit = _ => ()

  private def rootPath: Path = Paths.get(root)
  private def manifestPath: Path = rootPath.resolve("manifest")

  /** The partition id of a row, as a Catalyst column — same expression for
    * state and delta, so both sides agree on routing by construction. */
  def partitionId: org.apache.spark.sql.Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(nPartitions.toLong)).cast("int")

  // ---- manifest ---------------------------------------------------------

  private def versionedManifestPath(n: Int): Path =
    rootPath.resolve(s"manifest.v$n")

  private def named(pattern: String)(p: Path): Boolean =
    p.getFileName.toString.matches(pattern)

  private def manifestBody(entries: Map[Int, String], version: Int,
      schemaJson: String): String =
    (Seq(s"nPartitions $nPartitions", s"version $version",
      s"schema $schemaJson") ++
      entries.toSeq.sortBy(_._1).map { case (i, d) => s"$i $d" })
      .mkString("", "\n", "\n")

  /** Create the IMMUTABLE `manifest.v<N>` copy — and with it, ARBITRATE
    * the commit across processes: the tmp file is hard-linked into place
    * (link(2) fails atomically with EEXIST if the name is taken; a
    * rename-based move cannot arbitrate — POSIX rename silently replaces
    * even under ATOMIC_MOVE), so of two writer PROCESSES racing the same
    * version, exactly one creates `manifest.v<N>` and the other fails
    * HERE, loudly, before it can last-write-win the pointer swap. A crash
    * between this link and the pointer swap leaves an orphan
    * `manifest.v<N>` that version() (read from the pointer) never
    * acknowledges and that BLOCKS the next commit at this version with the
    * same loud error (its message names the remediation: delete the
    * unacknowledged orphan). */
  private def linkVersionedManifest(body: String, version: Int): Unit = {
    val tmpV = rootPath.resolve(s"manifest.vtmp${System.nanoTime()}")
    Files.write(tmpV, body.getBytes("UTF-8"))
    try Files.createLink(versionedManifestPath(version), tmpV)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"commit arbiter: manifest.v$version already exists at $root — " +
            "either a writer in another process committed this version " +
            "concurrently (this commit loses; re-derive the delta against " +
            "the current version and retry), or an earlier writer crashed " +
            "between its versioned-manifest write and its pointer swap " +
            "(version() does not acknowledge the file; delete it to recover)")
    } finally Files.deleteIfExists(tmpV)
  }

  /** Swap the current-manifest pointer — the one atomic visibility switch
    * every reader resolves. */
  private def swapPointer(body: String): Unit =
    Commit.replaceFile(manifestPath, "manifest.tmp", body.getBytes("UTF-8"))

  private def writeManifest(entries: Map[Int, String], version: Int,
      schemaJson: String): Unit = {
    Files.createDirectories(rootPath)
    val body = manifestBody(entries, version, schemaJson)
    linkVersionedManifest(body, version)
    swapPointer(body)
  }

  /** A manifest entry is a ';'-joined list of data dirs — one for a
    * partition last written by init/refresh (which REPLACE content), one
    * per append since ([[append]] ADDS a dir, O(delta) write I/O; the next
    * refresh of the partition compacts the list back to one). */
  private def entryDirs(entry: String): Seq[String] =
    entry.split(";").toSeq

  private def parseManifest(p: Path): Version = {
    val lines = new String(Files.readAllBytes(p), "UTF-8")
      .split("\n").filter(_.nonEmpty)
    require(lines.head == s"nPartitions $nPartitions",
      s"manifest header '${lines.head}' does not match nPartitions=$nPartitions " +
        "— the store was initialized with a different partition count")
    val (entryLines, headers) = lines.tail.partition(_.head.isDigit)
    def header(key: String) = headers.find(_.startsWith(s"$key "))
      .getOrElse(throw new IllegalArgumentException(s"manifest $p has no $key line"))
      .substring(key.length + 1)
    Version(header("version").toInt, header("schema"), entryLines.map { l =>
      val sp = l.indexOf(' ')
      l.substring(0, sp).toInt -> l.substring(sp + 1)
    }.toMap)
  }

  /** The version the `manifest` pointer names — None before [[init]]. */
  private def committed(): Option[Version] =
    if (Files.exists(manifestPath)) Some(parseManifest(manifestPath)) else None

  private def current(): Version = {
    val v = committed()
    require(v.nonEmpty, s"store at $root not initialized")
    v.get
  }

  /** Current partition → data-dir map (empty before [[init]]). */
  def manifest(): Map[Int, String] = committed().fold(Map.empty[Int, String])(_.entries)

  /** Per-partition data-dir count — the fragmentation metric an [[append]]
    * grows and a [[refresh]] collapses back to 1. Exposed so compaction
    * policy ([[compact]]) never re-parses the manifest's private entry
    * encoding: a change to the ';'-joined dir-list format stays inside
    * this class. */
  def dirCounts(): Map[Int, Int] =
    manifest().map { case (i, e) => i -> entryDirs(e).size }

  /** The current committed version — 1 after [[init]], +1 per [[refresh]]. */
  def version(): Int = current().number

  /** The pinned schema currently in force — the cheap metadata accessor
    * (one small file) for callers that need column types WITHOUT
    * planning a read over every data dir ([[graft.similarity.IvfCore]]
    * resolves its cell type per serve through this). */
  def schema: StructType = current().schema

  private def dirFor(entry: String): String =
    rootPath.resolve(entry).toString

  // ---- read -------------------------------------------------------------

  /** Scan the given partitions of one version under that version's own
    * schema. Every read supplies the schema explicitly: whether Spark emits
    * a schema-bearing parquet file for an EMPTY write varies with the plan
    * shape (an empty LocalRelation writes one, an empty aggregate may write
    * none), so schema inference over a fresh or sparsely-populated store
    * would be flaky — and a pinned schema also freezes the contract against
    * inference drift across refreshes. Distinct dirs only: empty partitions
    * SHARE one schema-carrying empty dir, and listing a shared dir once per
    * partition would duplicate any rows it held. */
  private def scan(v: Version, ids: Iterable[Int]): DataFrame =
    spark.read.schema(v.schema)
      .parquet(ids.toSeq.flatMap(i => entryDirs(v.entries(i)))
        .distinct.sorted.map(dirFor): _*)

  /** The whole maintained state (union of every partition's dir). */
  def read(): DataFrame = {
    val v = current()
    scan(v, v.entries.keys)
  }

  /** Time-travel read: the store EXACTLY as committed at `version` — the
    * immutable `manifest.v<n>` resolves that commit's partition map, whose
    * data dirs the retention policy guarantees still exist for the last
    * `retainVersions` versions. A version outside the retention window (or
    * never committed) fails loudly; so does an orphaned versioned file
    * from a crash between the two manifest writes (it is newer than the
    * current pointer acknowledges). The rows decode under the schema that
    * version's own manifest names, so time travel never shows a column
    * before it existed. */
  def readAsOf(version: Int): DataFrame = {
    val p = versionedManifestPath(version)
    require(Files.exists(p),
      s"version $version of the store at $root is not readable — never " +
        s"committed, or reclaimed by the retainVersions=$retainVersions policy")
    require(version <= this.version(),
      s"version $version was never committed (current: ${this.version()})")
    val v = parseManifest(p)
    scan(v, v.entries.keys)
  }

  /** The requested partitions' rows (refresh-side helper; empty
    * partitions read as empty frames via the shared schema-carrying empty
    * dir written by init). */
  def readPartitions(ids: Seq[Int]): DataFrame = {
    val v = committed()
    val m = v.fold(Map.empty[Int, String])(_.entries)
    require(ids.forall(m.contains), s"unknown partition ids: ${ids.filterNot(m.contains)}")
    require(ids.nonEmpty, "no partitions requested")
    scan(v.get, ids) // ids ⊆ m is non-empty, so a version was committed
  }

  // ---- write ------------------------------------------------------------

  /** Initialize: route every row to its partition, one data dir per
    * partition id (all ids present, so later refreshes can address any
    * partition). Overwrites any existing state.
    *
    * Ordering contract: the main partitioned write below is the FIRST
    * action on `df`. A caller may ride an `Observation` on `df` (the IVF
    * drift baseline does), and an Observation reports the metrics of the
    * first action that runs the plan — so any other action on `df` here
    * (the schema-carrying empty write) must come after it. */
  def init(df: DataFrame): Unit = {
    require(keyCols.forall(df.columns.contains),
      s"state must carry the key columns $keyCols")
    require(!df.columns.contains(PartCol), s"$PartCol is reserved")
    val stamp = s"init${System.nanoTime()}"
    Files.createDirectories(rootPath)
    val routed = df.withColumn(PartCol, partitionId)
    // one job: repartition BY the id so each partition value lands
    // co-located and emits its own file set under <stamp>/__kp=<i>
    routed.repartition(math.min(nPartitions, 200), col(PartCol))
      .write.mode("overwrite").partitionBy(PartCol)
      .parquet(rootPath.resolve(stamp).toString)
    // partitions with no rows get no subdir from Spark; point them at a
    // shared empty dir carrying the schema so readPartitions stays total
    val emptyDir = s"$stamp/__empty"
    df.limit(0).write.mode("overwrite").parquet(dirFor(emptyDir))
    val written = (0 until nPartitions).map { i =>
      val sub = s"$stamp/$PartCol=$i"
      i -> (if (Files.exists(rootPath.resolve(sub))) sub else emptyDir)
    }.toMap
    // overwrite semantics: a re-init starts the lineage over at v1, so any
    // versioned manifests from a previous life must not resolve
    listVersionedManifests().foreach(Files.deleteIfExists)
    writeManifest(written, version = 1, df.schema.json)
  }

  private def listVersionedManifests(): Seq[Path] =
    Commit.list(rootPath).filter(named(VersionedManifest))

  /** Partitioned refresh: `newState` carries the FULL new content of the
    * `touched` partitions (and only those — rows are re-routed and checked
    * against the declared set); untouched partitions keep their existing
    * data dirs, untouched bytes. Commit = one atomic manifest rename.
    *
    * I/O: write O(|touched partitions' rows|); nothing else moves. */
  def refresh(touched: Seq[Int], newState: DataFrame): Unit = {
    requirePinnedSchema("refresh", newState)
    commitTouched(touched, newState, evolvedTo = None, appendMode = false)
  }

  /** APPEND commit: `delta` carries ONLY NEW rows for the `touched`
    * partitions — each touched partition's manifest entry gains one more
    * data dir (the Delta-style "add file" commit), existing dirs untouched,
    * so write I/O is O(|delta|) regardless of how large the touched
    * partitions already are. That is the maintenance primitive for
    * append-mostly state ([[graft.similarity.IvfCore]]'s daily embedding
    * batches): a batch spread uniformly over every partition appends in
    * O(batch), where [[refresh]] — whose contract is FULL new content —
    * would rewrite the whole store. The next [[refresh]]/[[evolve]] of a
    * partition compacts its dir list back to one. Key semantics are the
    * caller's (append does not dedup against existing rows); same atomic
    * manifest swap, version CAS, retention and crash behavior as refresh. */
  def append(touched: Seq[Int], delta: DataFrame): Unit = {
    requirePinnedSchema("append", delta)
    commitTouched(touched, delta, evolvedTo = None, appendMode = true)
  }

  /** Schema drift check BEFORE any write: a frame whose schema decayed
    * (e.g. a lost DECIMAL cast → DOUBLE) would otherwise COMMIT parquet
    * the pinned-schema read path can never decode again — persistent
    * corruption behind an "atomic" switch. Names and data types must match
    * exactly (nested nullability included, which the tree form shows). */
  private def requirePinnedSchema(op: String, df: DataFrame): Unit = {
    val pinned = schema
    require(df.schema.map(f => (f.name, f.dataType)) ==
      pinned.map(f => (f.name, f.dataType)),
      s"$op schema does not match the store's pinned schema (adding " +
        s"columns is evolve()'s job) — $op:\n${df.schema.treeString}" +
        s"pinned:\n${pinned.treeString}")
  }

  /** ADDITIVE schema evolution: commit the `touched` partitions (full new
    * content, [[refresh]] semantics) under a WIDENED schema — every
    * existing column kept at its exact type, new columns appended
    * NULLABLE. Untouched partitions' parquet is not rewritten: the read
    * path supplies the evolved schema explicitly, and the parquet reader
    * fills columns missing from a file with NULL — so old data dirs decode
    * as "new column = NULL" at zero write cost, the lakehouse additive-
    * evolution contract. [[readAsOf]] earlier versions keeps decoding with
    * the schema in force AT that commit (each `manifest.v<n>` names its
    * own), so time travel never shows a column before it existed.
    *
    * Commit order: exactly a refresh's. The widened schema rides in the
    * new manifest's `schema` line, so it passes the same hard-link arbiter
    * and becomes visible in the same pointer swap as the dirs that carry
    * the new column — a reader resolves the old schema over the old dirs
    * or the new schema over the new ones, never a mix. */
  def evolve(touched: Seq[Int], newState: DataFrame): Unit = {
    val old = schema
    val byName = newState.schema.map(f => f.name -> f).toMap
    old.foreach { f =>
      val nf = byName.getOrElse(f.name, throw new IllegalArgumentException(
        s"evolve drops column '${f.name}' — evolution is additive only"))
      require(nf.dataType == f.dataType,
        s"evolve changes column '${f.name}': ${f.dataType.sql} -> ${nf.dataType.sql}")
    }
    val added = newState.schema.filterNot(f => old.fieldNames.contains(f.name))
    require(added.nonEmpty, "evolve with no added columns — use refresh()")
    added.foreach(f => require(f.nullable,
      s"added column '${f.name}' must be nullable — rows committed before " +
        "the evolution read it as NULL"))
    commitTouched(touched, newState, evolvedTo = Some(newState.schema),
      appendMode = false)
  }

  private def commitTouched(touched: Seq[Int], newState: DataFrame,
      evolvedTo: Option[StructType], appendMode: Boolean): Unit = {
    require(touched.nonEmpty, "refresh with no touched partitions")
    require(touched.distinct == touched, "duplicate touched ids")
    val prev = current()
    val (oldVersion, old) = (prev.number, prev.entries)
    require(touched.forall(old.contains), "touched ids outside the store")
    // an evolution commits its widened schema; every other commit carries
    // the previous version's schema line over byte for byte
    val schemaJson = evolvedTo.fold(prev.schemaJson)(_.json)
    val stamp = s"refresh${System.nanoTime()}"
    var linkedVersion: Option[Int] = None
    // register the stamp as in-flight BEFORE any data lands, and keep it
    // there through this commit's own sweep: a concurrent winner's
    // retention sweep must not reclaim this commit's written-but-not-yet-
    // committed dirs as "unreferenced garbage". Once committed the stamp is
    // manifest-referenced (the keep set protects it), so even a swallowed
    // sweep failure leaves no reclaim hazard.
    Commit.inFlight(rootPath, stamp) {
      try {
        val routed = newState.withColumn(PartCol, partitionId)
        val touchedSet = touched.toSet
        // loud misroute check INSIDE the job: a new-state row hashing to an
        // undeclared partition would silently vanish from the view otherwise
        val guarded = routed.withColumn(PartCol,
          when(col(PartCol).isInCollection(touchedSet),
            col(PartCol))
            .otherwise(raise_error(concat(
              lit("refresh row routed to undeclared partition "),
              col(PartCol).cast("string")))))
        guarded.repartition(math.min(touched.size, 200), col(PartCol))
          .write.mode("overwrite").partitionBy(PartCol)
          .parquet(rootPath.resolve(stamp).toString)
        val emptyDir = s"$stamp/__empty"
        if (!appendMode)
          newState.limit(0).write.mode("overwrite").parquet(dirFor(emptyDir))
        onStep("dataWritten")
        val entries = old ++ touched.flatMap { i =>
          val sub = s"$stamp/$PartCol=$i"
          val wrote = Files.exists(rootPath.resolve(sub))
          if (!appendMode) Some(i -> (if (wrote) sub else emptyDir))
          else if (!wrote) None // empty delta slice: partition unchanged
          else {
            // ADD the new dir to the partition's list; a schema-carrying
            // shared empty placeholder is superseded by real data
            val prev = entryDirs(old(i)).filterNot(_.endsWith("/__empty"))
            Some(i -> (prev :+ sub).mkString(";"))
          }
        }.toMap
        // writer guard (version CAS): serialize the visibility switch per
        // store root within this JVM, and re-read the manifest version
        // UNDER the lock — a concurrent commit that landed since this one
        // read `oldVersion` fails HERE, loudly, before it can last-write-win
        // the manifest (and before the sweep below could reclaim the
        // winner's dirs). In-process racers are therefore strictly
        // exactly-one-wins; a cross-process racer that slips past the
        // re-read is caught by writeManifest's hard-link arbiter (exactly
        // one process can CREATE manifest.v<N+1>), closing the
        // check-to-rename window the re-read alone would leave.
        Commit.lock(rootPath).synchronized {
          val nowVersion = parseManifest(manifestPath).number
          if (nowVersion != oldVersion)
            throw new java.util.ConcurrentModificationException(
              s"concurrent commit detected on store at $root: read version " +
                s"$oldVersion but the manifest is now at $nowVersion — this " +
                "refresh loses; re-derive the delta against the current " +
                "version and retry")
          onStep("casChecked")
          // the versioned-manifest link is BOTH the immutable copy and the
          // cross-process arbiter. The link is reader-invisible until the
          // pointer swap (readAsOf refuses versions beyond the pointer), so
          // the swap below stays the one visibility switch.
          val body = manifestBody(entries, oldVersion + 1, schemaJson)
          linkVersionedManifest(body, oldVersion + 1)
          linkedVersion = Some(oldVersion + 1)
          // stale-writer guard (cross-process): the arbiter only arbitrates
          // names still ON DISK — a writer in another process stalled since
          // its CAS re-read for >= retainVersions commits can re-link an
          // already-swept manifest.v<N+1> and would then swap the pointer
          // BACKWARDS over reclaimed dirs. Re-read the pointer AFTER the
          // link: once this commit holds the v<N+1> name no other process
          // can commit any further version (each must link its own next
          // version, whose number passes THROUGH N+1), so this re-read is
          // race-free — a moved pointer proves this writer stalled past the
          // retention window and must abort (teardown removes only its own
          // re-created link, which the sweep had already reclaimed).
          val postLink = parseManifest(manifestPath).number
          if (postLink != oldVersion)
            throw new java.util.ConcurrentModificationException(
              s"stale writer on store at $root: read version $oldVersion " +
                s"but the manifest advanced to $postLink before this " +
                "commit's versioned-manifest link — the arbiter file for " +
                s"version ${oldVersion + 1} was already swept (retention), " +
                "so this commit would have rolled the pointer backwards; " +
                "it loses — re-derive the delta against the current " +
                "version and retry")
          onStep("linkedManifest")
          swapPointer(body) // the single atomic visibility switch
        }
      } catch {
        case e: Throwable =>
          // commit never became visible (the pointer swap is the try's last
          // act): tear the partial refresh dirs down, plus the versioned
          // manifest IF THIS COMMIT created it — the link arbiter guarantees
          // it is ours, and a CAS/arbiter loser that never linked must not
          // delete a winner's file. Manifest pointer (and so every reader)
          // stays on the old view.
          Commit.deleteTreeQuiet(rootPath.resolve(stamp))
          linkedVersion.foreach(v =>
            Files.deleteIfExists(versionedManifestPath(v)))
          throw e
      }
      // POST-commit maintenance. The commit stands from here on — nothing
      // below may surface as a commit failure to the caller (a thrown sweep
      // after the swap would report a SUCCESSFUL refresh as failed, and a
      // caller's retry of an append would double-apply its delta), so the
      // whole block is best-effort: errors are logged and left for the next
      // commit's sweep to retry. It ALSO re-takes the commit lock: two
      // successful back-to-back commits from different threads would
      // otherwise race their sweeps (one deleting a manifest.v file between
      // the other's list and parse).
      Commit.bestEffort(s"[PartitionedStore] post-commit maintenance at $root " +
          s"failed (commit v${oldVersion + 1} stands; next commit retries the " +
          "sweep)")(Commit.lock(rootPath).synchronized {
        // seam sits in the BEST-EFFORT block, not the commit try: the commit
        // is already visible, so even a throwing hook must never trigger the
        // teardown above (which would delete a committed version's files)
        onStep("pointerSwapped")
        // retention sweep (same bounded race with in-flight readers as
        // BucketStore.rewrite's sweep): versions older than the last
        // `retainVersions` lose their manifest.v file, then any stamp dir
        // referenced by NO retained manifest is reclaimed — so readAsOf
        // stays total over exactly the retained window. retainVersions = 1
        // keeps only the new commit: the old behavior, eager reclaim.
        val newVersion = oldVersion + 1
        val keepFrom = math.max(1, newVersion - retainVersions + 1)
        Commit.sweep(rootPath) { entries =>
          val (stale, retained) = entries.filter(named(VersionedManifest))
            .partition(p =>
              p.getFileName.toString.stripPrefix("manifest.v").toInt < keepFrom)
          val keep = retained.flatMap(p => parseManifest(p).entries.values)
            .flatMap(entryDirs).map(e => e.split("/")(0)).toSet
          // reclaim candidates = EVERY stamp dir on disk, not just the
          // previous manifest's (whose dirs are still retained at
          // retainVersions >= 2 — sweeping only from `old` left the dirs of
          // the version FALLING OUT of the window unreclaimed forever, a
          // per-refresh disk leak) — EXCEPT stamps a concurrent commit
          // registered as in-flight, which the sweep never offers: its data
          // may be written while its manifest is not yet swapped. A stamp
          // left in-flight by a crashed PROCESS dies with that process's
          // registry, so the next process's sweep still reclaims it. The
          // stale manifests go first: a stamp dir is never reclaimed while
          // a manifest naming it survives.
          stale ++ entries.filter(p => named(StampDir)(p) &&
            Files.isDirectory(p) && !keep.contains(p.getFileName.toString))
        }
      })
    }
  }

  /** Touched-partition ids of a delta, derived WITHOUT touching state —
    * bounded by nPartitions, so the driver-side collect is a few ints.
    * A driver-local delta (a local relation, such as an IVF serve's probed
    * cells) is routed on the driver: the [[partitionId]] projection folds
    * into the local relation, so no job runs and the ids come from the
    * same expression the writes route by. */
  def touchedBy(delta: DataFrame): Seq[Int] = {
    require(keyCols.forall(delta.columns.contains),
      s"delta must carry the key columns $keyCols")
    val ids = delta.select(partitionId.as(PartCol))
    val local = ids.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    (if (local) ids else ids.distinct()).collect().map(_.getInt(0))
      .distinct.toSeq.sorted
  }

  /** Compact every partition whose dir list grew past `maxDirs` appends
    * back to one dir — the OPTIMIZE lever bounding append-path read
    * amplification. Returns the compacted ids (empty = no commit). */
  def compact(maxDirs: Int): Seq[Int] = {
    require(maxDirs >= 1, s"maxDirs must be >= 1: $maxDirs")
    val frag = dirCounts().collect { case (i, n) if n > maxDirs => i }
      .toSeq.sorted
    if (frag.nonEmpty) refresh(frag, readPartitions(frag))
    frag
  }

  /** Erasure by id: `routed` carries the victims' ids with their key
    * columns (re-derived from the same inputs that placed them, so only
    * touched partitions move). ONE id-column-pruned pass counts removed
    * and missing ids; the only full read of the touched partitions is the
    * refresh write itself, which keeps `storedCols`. Empty batches are
    * 0-row no-ops. Returns the rows removed. */
  def removeIds(routed: DataFrame, idCol: String, storedCols: Seq[Column],
      requirePresent: Boolean): Long = {
    val touched = touchedBy(routed)
    if (touched.isEmpty) return 0L
    val current = readPartitions(touched)
    val victimIds = routed.select(col(idCol))
    val stats = current.select(col(idCol)).withColumn("__c", lit(1))
      .join(victimIds.distinct().withColumn("__v", lit(1)), Seq(idCol), "full")
      .agg(
        sum(when(col("__c").isNotNull && col("__v").isNotNull, 1L)
          .otherwise(0L)).as("removed"),
        sum(when(col("__c").isNull, 1L).otherwise(0L)).as("missing"))
      .collect()(0)
    val removed = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    val missing = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    if (requirePresent && missing > 0) {
      // error path only: name a small sample of the absent ids
      val sample = victimIds
        .join(current.select(col(idCol)), Seq(idCol), "left_anti")
        .limit(5).collect().map(_.get(0))
      throw new IllegalArgumentException(
        s"remove batch names $missing ids not in the index: " +
          sample.mkString(", "))
    }
    refresh(touched,
      current.join(victimIds, Seq(idCol), "left_anti").select(storedCols: _*))
    removed
  }
}

object PartitionedStore {
  /** The replay guard FUSED into an append's write lineage: left-join the
    * delta onto the touched partitions' ids and poison any id that
    * already exists, so a replayed batch fails the write loudly (the
    * commit tears the partial down) without a separate pre-pass. */
  def guardReplays(delta: DataFrame, existingIds: DataFrame,
      idCol: String): DataFrame =
    delta.join(existingIds.select(col(idCol), lit(1).as("__dup")),
        Seq(idCol), "left")
      .withColumn(idCol,
        when(col("__dup").isNull, col(idCol))
          .otherwise(raise_error(concat(
            lit("append batch replays an id already in the index: "),
            col(idCol).cast("string")))))

  /** One committed version as its manifest file records it: the version
    * number, the state schema's JSON exactly as committed, and the
    * partition → data-dir map. */
  private final case class Version(number: Int, schemaJson: String,
      entries: Map[Int, String]) {
    lazy val schema: StructType =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  // root entry names: the immutable per-version manifests, and the stamp
  // dirs init and each commit write their data under
  private val VersionedManifest = "manifest\\.v\\d+"
  private val StampDir = "(init|refresh)\\d+"
}
