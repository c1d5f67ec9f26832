package graft.store

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model._

/** Bucket storage service: partitioned-Parquet layout per bucket with the
  * reference's storage semantics re-expressed Spark-first —
  *
  *  - three stages `raw/ json/ processed/` per bucket
  *    (`HfdsDataWriteService.java:688-710` STORED_DATA_SUFFIX_*),
  *  - time-partitioned writes: the temporal schema's time field is extracted
  *    per record at write time into a partition column `p_time`
  *    (`HfdsDataWriteService.java:509-525` dir routing), giving Catalyst
  *    partition pruning on time predicates — the Spark-native replacement
  *    for time-sliced index enumeration
  *    (`ElasticsearchContextUtils.java:50-132`),
  *  - secondary "ping-pong" buffers with atomic promote-to-primary
  *    (`ElasticsearchIndexService.java:335-391`; HDFS analog
  *    `HdfsStorageService.java:458-542`),
  *  - retention/age-out by partition (`HdfsStorageService.java:593-601`).
  *
  * Roles: a stage's primary (`current`) and each named buffer
  * (`buffer_<name>`) resolve only through the stage root's one small
  * `_ROLES` file, one `<role> v_<n>` line per role. Every commit is a
  * read-modify-write of that file under the root's [[Commit.lock]],
  * landed by ONE [[Commit.replaceFile]] — the reference's alias swap —
  * so a concurrent reader resolves the old roles or the new, never a
  * half-swapped state. Data dirs are never renamed; a rewrite writes a
  * fresh `v_` dir, swaps the file, and sweeps the `v_` dirs it no longer
  * names (the [[PartitionedStore]] and
  * [[graft.similarity.RotatingIvf]] shape). The same discipline holds on
  * an object store, where directory renames are O(files) copies and not
  * atomic, but one small object CAN be replaced atomically.
  */
final class BucketStore(spark: SparkSession, rootDir: String) {
  import BucketStore._

  /** Test-only fault-injection seam, invoked at `versionWritten` (a
    * rewrite-style commit's new `v_` dir is written, `_ROLES` not yet
    * replaced) and `rolesReplaced` (inside the best-effort block after
    * any commit's replace, before its sweep), so FaultInjectionSpec can
    * snapshot the exact state a crash there would leave. No-op in
    * production. */
  private[graft] var onStep: String => Unit = _ => ()

  private def bucketRoot(b: Bucket): Path = Paths.get(rootDir, b.signature)
  private def stageRoot(b: Bucket, stage: String): Path =
    bucketRoot(b).resolve(stage)

  // ---- the roles file ----------------------------------------------------

  private def roleName(buffer: Option[String]): String =
    buffer.map("buffer_" + _).getOrElse("current")

  private def readRoles(root: Path): Map[String, String] =
    try new String(Files.readAllBytes(root.resolve(RolesFile)), "UTF-8")
      .linesIterator.filter(_.nonEmpty).map { l =>
        val i = l.lastIndexOf(' ')
        l.take(i) -> l.drop(i + 1)
      }.toMap
    catch { case _: java.nio.file.NoSuchFileException => Map.empty }

  /** Land `roles` as the stage's one visibility switch; the caller holds
    * the root's lock. */
  private def writeRoles(root: Path, roles: Map[String, String]): Unit = {
    Files.createDirectories(root)
    Commit.replaceFile(root.resolve(RolesFile), RolesFile + ".tmp",
      roles.toSeq.sorted.map { case (r, d) => s"$r $d\n" }.mkString
        .getBytes("UTF-8"))
  }

  /** The dir a role resolves to; a role with no entry resolves to a path
    * that does not exist (no data dir is named after a role). */
  private def stageDir(b: Bucket, stage: String, buffer: Option[String]): Path = {
    val root = stageRoot(b, stage)
    val role = roleName(buffer)
    root.resolve(readRoles(root).getOrElse(role, role))
  }

  /** Derive the partition column from the temporal schema. Lexicographic
    * partition values == chronological order, so time-range predicates prune.
    * Records with a null/missing time land in partition value
    * `__unknown__` (the reference shunts these to an "unknown" dir). */
  private[graft] def withTimePartition(b: Bucket, df: DataFrame): DataFrame =
    b.dataSchema.temporal match {
      case Some(TemporalSchema(tf, period)) if df.columns.contains(tf) =>
        df.withColumn(PartitionCol,
          coalesce(period.partitionValue(col(tf)), lit("__unknown__")))
      case _ => df
    }

  /** Write a batch into a bucket stage. Partitioned by derived time column
    * when a temporal schema is declared; codec from the storage schema.
    * A role's first write adds a fresh `v_` entry for it to `_ROLES`. */
  def write(b: Bucket, df: DataFrame, stage: String = "processed",
      buffer: Option[String] = None, mode: SaveMode = SaveMode.Append): Unit = {
    val root = stageRoot(b, stage)
    val role = roleName(buffer)
    val dir = Commit.lock(root).synchronized {
      val roles = readRoles(root)
      roles.getOrElse(role, {
        val v = "v_" + System.nanoTime()
        writeRoles(root, roles + (role -> v))
        v
      })
    }
    writeDir(b, df, root.resolve(dir), mode)
  }

  private def writeDir(b: Bucket, df: DataFrame, dir: Path, mode: SaveMode,
      extraOptions: Map[String, String] = Map.empty): Unit = {
    val out = withTimePartition(b, df)
    val codec = b.dataSchema.storage.flatMap(_.codec).getOrElse("snappy")
    var w = out.write.mode(mode).option("compression", normalizeCodec(codec))
      .options(extraOptions)
    if (out.columns.contains(PartitionCol)) w = w.partitionBy(PartitionCol)
    w.parquet(dir.toString)
  }

  /** Hash-bucketed write registered in the session catalog — the co-located
    * join layout: two tables bucketed on the same key with the same bucket
    * count join with NO shuffle exchange (each bucket pair meets on one
    * task), and `sortBy` pre-sorts within buckets so sort-merge join skips
    * its sort too. This is the storage-level answer to the repeated
    * merge-by-key jobs (J1/J3/U9): pay the partitioning once at write time,
    * reuse it every join.
    *
    * Lands in a dedicated `bucketed` dir, NOT the stage's `current`:
    * `rewrite`/`promote` manage `current` with plain parquet files, and a
    * CRUD rewrite must not silently invalidate a catalog table that still
    * declares a bucket spec. Honors the declared codec and keeps the
    * time-partition column. Returns the catalog table name. */
  def writeBucketed(b: Bucket, df: DataFrame, bucketCols: Seq[String],
      numBuckets: Int, stage: String = "processed"): String = {
    val table = s"${b.signature}_${stage}_bucketed"
    val out = withTimePartition(b, df)
    val codec = b.dataSchema.storage.flatMap(_.codec).getOrElse("snappy")
    var w = out.write.mode(SaveMode.Overwrite).format("parquet")
      .option("compression", normalizeCodec(codec))
      .option("path", bucketRoot(b).resolve(stage).resolve("bucketed").toString)
    if (out.columns.contains(PartitionCol)) w = w.partitionBy(PartitionCol)
    w.bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
    table
  }

  /** Z-order clustered write: re-layout the stage on a Morton curve over
    * N columns ([[ZOrder.clustered]]) so every parquet file carries a
    * tight min/max bounding box on ALL of them — file/row-group stats then
    * prune scans filtered on any subset. One file per z-range; the
    * multi-column sibling of [[writeBucketed]]'s single-key co-location.
    *
    * Commits like [[rewrite]]/[[compact]]: `df` may therefore originate
    * from the target stage itself (re-layout in place), and concurrent
    * readers see the old snapshot until the one `_ROLES` replace. */
  def writeZOrdered(b: Bucket, df: DataFrame, cols: Seq[String],
      numFiles: Int, stage: String): Unit =
    commitCurrent(b, stage, ZOrder.clustered(df, cols, numFiles))

  /** Two-column [[writeZOrdered]] (compat signature). */
  def writeZOrdered(b: Bucket, df: DataFrame, colA: String, colB: String,
      numFiles: Int = 32, stage: String = "processed"): Unit =
    writeZOrdered(b, df, Seq(colA, colB), numFiles, stage)

  /** Read a stage; the partition column stays available for explicit
    * time-slice predicates (partition pruning shows in the scan).
    *
    * Schema reuse: inferring a Parquet schema is a Spark job of its own,
    * so the schema inferred for a listing of the resolved dir's data files
    * (path, size) is kept, per session, under the stage root and role, and
    * a read whose listing matches it supplies that schema instead of
    * inferring again ([[PartitionedStore.read]]'s explicit-schema form).
    * No invalidation is needed: every writer lands new files (Spark names
    * each output file uniquely) or removes some — an append, a
    * rewrite to a fresh `v_` dir, a promote, [[compact]], [[ageOut]], a write
    * by another store instance or process — so any change to the stage
    * changes the listing and re-infers. One entry per root and role, so
    * superseded `v_` dirs leave nothing behind. Each call still builds a
    * fresh relation, so two reads self-join safely. */
  def read(b: Bucket, stage: String = "processed",
      buffer: Option[String] = None): DataFrame = {
    val root = stageRoot(b, stage)
    val dir = stageDir(b, stage, buffer)
    val key = schemaKey(root, buffer)
    val cache = schemaCache(spark)
    val files = Commit.dataFiles(dir, root)
    Option(cache.get(key)).filter(e => files.contains(e._1)) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(dir.toString)
      case None =>
        val df = spark.read.parquet(dir.toString)
        files.foreach(f => cache.put(key, (f, df.schema)))
        df
    }
  }

  private def schemaKey(root: Path, buffer: Option[String]): (String, String) =
    (root.toAbsolutePath.normalize.toString, roleName(buffer))

  /** Storage path of a stage's current dir — the cross-process handle the
    * python bridge manifests by signature (X5,
    * [[graft.sql.SqlSurface.writePythonManifest]]): a separate PySpark
    * process can't see this session's temp views, but it can read the
    * bucket's parquet directly. */
  def stagePath(b: Bucket, stage: String = "processed"): String =
    stageDir(b, stage, None).toAbsolutePath.toString

  /** F12 read path: apply a DSL query (filter, sort, limit, projection)
    * to a stage narrowed by [[timeSlice]] — the Spark-native form of the
    * reference's query-driven index enumeration
    * (`ElasticsearchContext.java:199-236`). The stage's schema is reused as
    * [[read]] describes, so an unchanged stage costs the query's own scan
    * job only. */
  def readForQuery(b: Bucket, q: graft.dsl.QueryComponent,
      stage: String = "processed", buffer: Option[String] = None): DataFrame =
    graft.dsl.QueryCompiler.run(timeSlice(b, read(b, stage, buffer), q), q)

  /** `df`, a read of one of `b`'s stages, filtered to the time partitions
    * `q` can match, with no other clause applied — for callers that filter,
    * count or probe on their own. [[graft.dsl.TimeSlice]] extracts a sound
    * time interval from the query tree; truncating its ends with the
    * bucket's grouping period gives partition-value bounds (lexicographic
    * order == chronological for every period format), so Catalyst prunes
    * whole partition directories before the row predicate runs. Records
    * with a null time (the `__unknown__` partition) can never satisfy a
    * time-bounded query, so pruning them when a hi bound exists is sound;
    * with only a lo bound the string compare keeps `__unknown__` and the
    * row filter drops its rows. */
  def timeSlice(b: Bucket, df: DataFrame, q: graft.dsl.QueryComponent): DataFrame =
    b.dataSchema.temporal match {
      case Some(TemporalSchema(tf, period)) if df.columns.contains(PartitionCol) =>
        graft.dsl.TimeSlice.bounds(q, tf) match {
          case (None, None) => df
          case (lo, hi) =>
            val preds = lo.map(i => col(PartitionCol) >= lit(period.truncate(i))) ++
              hi.map(i => col(PartitionCol) <= lit(period.truncate(i)))
            df.filter(preds.reduce(_ && _))
        }
      case _ => df
    }

  def exists(b: Bucket, stage: String = "processed",
      buffer: Option[String] = None): Boolean =
    Files.exists(stageDir(b, stage, buffer))

  /** Columnar view of a stage: the bucket's declared include/exclude policy
    * resolved against the stored schema as a projection. The reference's
    * columnar schema chose which fields get doc_values
    * (`ElasticsearchIndexUtils.java:416-437`); over Parquet every stored
    * column is already columnar, so the policy's runtime meaning is "which
    * column chunks a columnar consumer reads" — this projection prunes the
    * scan's ReadSchema to exactly that set. */
  def readColumnar(b: Bucket, stage: String = "processed"): DataFrame = {
    val df = read(b, stage)
    b.dataSchema.columnar match {
      case Some(cs) =>
        val keep = cs.resolve(df.columns.toSeq)
        df.select(keep.map(org.apache.spark.sql.functions.col): _*)
      case None => df
    }
  }

  /** Atomic promote of a secondary buffer to primary — the ping-pong swap
    * (`ElasticsearchIndexService.java:495-520`): one `_ROLES` replace
    * swaps the two entries, so `current` resolves to the buffer's data and
    * `buffer_<name>` to the old primary's (or to nothing, if the stage had
    * no primary). A reader that resolved `current` just before the replace
    * keeps reading the old dir, which the promote neither renames nor
    * deletes — StoreCrudSpec's concurrent promote test runs this race for
    * real. The two roles never name one dir, so a later buffer write can
    * never land in the live primary. */
  def promote(b: Bucket, stage: String, buffer: String): Unit = {
    val root = stageRoot(b, stage)
    val bufRole = roleName(Some(buffer))
    Commit.lock(root).synchronized {
      val roles = readRoles(root)
      val buf = root.resolve(roles.getOrElse(bufRole, bufRole))
      require(Files.exists(buf), s"no such buffer: $buf")
      commitRoles(root, roles - bufRole ++ roles.get("current").map(bufRole -> _) +
        ("current" -> roles(bufRole)))
    }
  }

  /** Replace `_ROLES` (the caller holds the root's lock), then sweep. Once
    * the replace landed the commit stands: the sweep is best-effort, and a
    * failed one is logged and retried by the next commit of the stage. */
  private def commitRoles(root: Path, roles: Map[String, String]): Unit = {
    writeRoles(root, roles)
    Commit.bestEffort(s"[BucketStore] post-commit sweep at $root failed " +
        "(the commit stands; the next commit's sweep retries)") {
      // seam inside the best-effort block: the commit is already visible,
      // so even a throwing hook must not fail it
      onStep("rolesReplaced")
      sweepOrphans(root)
    }
  }

  /** Reclaim crash debris and superseded versions under `root`: `_ROLES`
    * tmp files (a crash inside a replace) and `v_*` dirs `_ROLES` does not
    * name (a superseded primary, or a crashed commit's new version).
    * Runs under the root's lock, so no role gains an entry meanwhile;
    * [[Commit.sweep]] never offers a commit's in-flight version, and
    * nothing else (`bucketed/`) is touched. */
  private def sweepOrphans(root: Path): Unit = Commit.sweep(root) { entries =>
    val named = readRoles(root).values.toSet
    entries.filter { p =>
      val n = p.getFileName.toString
      n.startsWith(RolesFile + ".tmp") || (n.startsWith("v_") && !named(n))
    }
  }

  /** Rewrite a stage in place with writer/reader atomicity: write the new
    * content to a fresh version, then swap it in. This is the engine's
    * update/delete commit path (SURVEY §7 hard-part 2).
    *
    * When `f` keeps the read schema (same names, types and order,
    * nullability aside: a Parquet read is all-nullable), the new version's
    * files read back with exactly that schema, so its listing goes
    * into [[read]]'s schema cache with it and the next read infers
    * nothing. Any other rewrite re-infers as before. With partition type
    * inference on, the time-partition column's type follows the values
    * written, so such a stage is never seeded. */
  def rewrite(b: Bucket, stage: String)(f: DataFrame => DataFrame): Unit = {
    val cur = read(b, stage)
    val next = f(cur)
    val committed = commitCurrent(b, stage, next)
    val typedPartitions = cur.columns.contains(PartitionCol) &&
      spark.conf.get("spark.sql.sources.partitionColumnTypeInference.enabled",
        "true").toBoolean
    if (!typedPartitions &&
        org.apache.spark.sql.graftbridge.ColumnBridge.asNullable(next.schema) ==
          cur.schema) {
      val root = stageRoot(b, stage)
      Commit.dataFiles(root.resolve(committed), root).foreach(files =>
        schemaCache(spark).put(schemaKey(root, None), (files, cur.schema)))
    }
  }

  /** Commit shared by [[rewrite]]/[[writeZOrdered]]/[[compact]]: write `df`
    * to a fresh `v_` dir, point `current` at it in one `_ROLES` replace only if
    * the write succeeded, and tear the partial dir down if it failed — a
    * throwing write job (bad source row, merge cardinality violation,
    * executor loss) must leave the current stage byte-identical AND not
    * accumulate orphan dirs. A failing teardown cannot replace the write's
    * own error. The closing sweep reclaims the superseded primary at once:
    * in-flight jobs that resolved the OLD current before the replace race
    * only with this deletion — the same window the reference has between
    * alias swap and old-index delete; a deployment wanting zero-race long
    * readers defers this to a retention sweep. Returns the new dir's name. */
  private def commitCurrent(b: Bucket, stage: String, df: DataFrame,
      extraOptions: Map[String, String] = Map.empty): String = {
    val root = stageRoot(b, stage)
    val v = "v_" + System.nanoTime()
    // registered as in-flight BEFORE any data lands: a concurrent commit's
    // sweep must not reclaim this live version as crash debris
    Commit.inFlight(root, v) {
      try writeDir(b, df, root.resolve(v), SaveMode.Overwrite, extraOptions)
      catch {
        case e: Throwable =>
          try Commit.deleteTree(root.resolve(v))
          catch { case c: Exception => e.addSuppressed(c) }
          throw e
      }
      onStep("versionWritten")
      Commit.lock(root).synchronized(
        commitRoles(root, readRoles(root) + ("current" -> v)))
    }
    v
  }

  /** Small-file compaction: rewrite a stage so each time partition lands in
    * as few files as its data needs. Micro-batch/streaming appends
    * accumulate thousands of tiny parquet files per partition, and at
    * 100 TB a scan over them is a metadata storm (one footer read + task
    * per file). The rewrite hashes rows to `shufflePartitions` tasks BY THE
    * TIME-PARTITION VALUE — so each partition value's rows co-locate and
    * emit one file (plain `repartition(n)` would do the opposite: every
    * task touches every partition value, multiplying files) — while
    * `maxRecordsPerFile` still splits oversized partitions. The
    * [[rewrite]] commit keeps concurrent readers atomic. Returns parquet files before/after.
    *
    * `preserveZOrder`: a plain compaction re-packs by partition value and
    * DESTROYS any z-clustered layout ([[writeZOrdered]]) — the repacked
    * files' bounding boxes go back to ~the full domain and skipping dies.
    * Passing the z-order columns re-clusters on the Morton curve inside the
    * same rewrite, so compaction and skipping compose. */
  def compact(b: Bucket, stage: String = "processed",
      shufflePartitions: Int = 32,
      maxRecordsPerFile: Long = 5000000L,
      preserveZOrder: Option[Seq[String]] = None): (Long, Long) = {
    val before = parquetFileCount(b, stage)
    val cur = read(b, stage)
    val packed = preserveZOrder match {
      case Some(zCols) => ZOrder.clustered(cur, zCols, shufflePartitions)
      case None if cur.columns.contains(PartitionCol) =>
        cur.repartition(shufflePartitions, col(PartitionCol))
      case None => cur.repartition(shufflePartitions)
    }
    commitCurrent(b, stage, packed,
      Map("maxRecordsPerFile" -> maxRecordsPerFile.toString))
    (before, parquetFileCount(b, stage))
  }

  /** Count of parquet data files in a stage (diagnostic for compaction). */
  def parquetFileCount(b: Bucket, stage: String): Long =
    Commit.dataFiles(stageDir(b, stage, None), stageRoot(b, stage))
      .fold(0L)(_.count(_._1.endsWith(".parquet")).toLong)

  /** Retention: drop whole time partitions older than `existAgeMax`
    * (partition-level delete — no data rewrite, like dir-level age-out). */
  def ageOut(b: Bucket, stage: String, now: java.time.Instant): Int = {
    (b.dataSchema.temporal, b.dataSchema.storage.flatMap(_.existAgeMax)) match {
      case (Some(TemporalSchema(_, period)), Some(maxAge)) =>
        val cutoff = period.truncate(now.minus(maxAge))
        val doomed = Commit.list(stageDir(b, stage, None)).filter { p =>
          val n = p.getFileName.toString
          n.startsWith(PartitionCol + "=") &&
            n.stripPrefix(PartitionCol + "=") < cutoff
        }
        doomed.foreach(Commit.deleteTree)
        doomed.size
      case _ => 0
    }
  }

  /** U12 deleteDatastore — drop the whole bucket dir. */
  def deleteDatastore(b: Bucket): Unit = Commit.deleteTree(bucketRoot(b))
}

object BucketStore {
  /** Name of the derived time-partition column. */
  val PartitionCol = "p_time"

  private type SchemaCache =
    ConcurrentHashMap[(String, String), (Vector[(String, Long)], StructType)]

  /** [[BucketStore.read]]'s inferred schemas, per session, keyed by
    * (stage root, role); weak keys let a stopped session's entries go. */
  private val schemas = new java.util.WeakHashMap[SparkSession, SchemaCache]()

  private def schemaCache(spark: SparkSession): SchemaCache =
    schemas.synchronized(schemas.computeIfAbsent(spark, _ => new SchemaCache()))

  /** The (stage root, role) keys holding a reused schema in `spark`. */
  private[graft] def cachedSchemaKeys(spark: SparkSession): Set[(String, String)] =
    schemaCache(spark).keySet.asScala.toSet

  /** The stage root's one role-to-dir file. */
  private val RolesFile = "_ROLES"

  /** Reference codecs gzip/snappy/framed-snappy
    * (`HfdsDataWriteService.java:642-660`) → parquet compression codecs. */
  def normalizeCodec(c: String): String = c.toLowerCase match {
    case "gz" | "gzip" => "gzip"
    case "sz" | "snappy" | "fr.sz" => "snappy"
    case "zstd" => "zstd"
    case other => other
  }
}
