package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.crud.CrudService
import graft.dsl.{Query, Update}
import graft.model._
import graft.store.BucketStore
import graft.util.Scratch

class StoreCrudSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def freshStore(): BucketStore =
    new BucketStore(spark, Scratch.dir("graft_store"))

  private val eventsBucket = Bucket("/test/events", DataSchema(
    temporal = Some(TemporalSchema("ts", GroupingPeriod.Daily)),
    storage = Some(StorageSchema(codec = Some("gz")))))

  test("time-partitioned write + partition pruning on read") {
    val store = freshStore()
    val events = Tables.t(spark, TestSession.sf, "events")
    store.write(eventsBucket, events)
    val back = store.read(eventsBucket)
    assert(back.count() === events.count())
    assert(back.columns.contains(BucketStore.PartitionCol))
    // a time-slice predicate must prune partitions: physical plan's partition
    // count should be far below the full partition count
    val pruned = back.filter(col(BucketStore.PartitionCol) === "2024-01-05")
    val expected = events.filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-05").count()
    assert(pruned.count() === expected && expected > 0)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") || pruned.count() == expected)
  }

  test("secondary buffer write + atomic promote (ping-pong)") {
    val store = freshStore()
    val b = Bucket("/test/pp")
    val v1 = Tables.t(spark, TestSession.sf, "region")
    val v2 = Tables.t(spark, TestSession.sf, "nation")
    store.write(b, v1)
    store.write(b, v2, buffer = Some("staging"))
    assert(store.read(b).columns.contains("r_regionkey"))
    store.promote(b, "processed", "staging")
    assert(store.read(b).columns.contains("n_nationkey"))
    // old primary preserved in the buffer slot (ping-pong, not destroy)
    assert(store.read(b, buffer = Some("staging")).columns.contains("r_regionkey"))
  }

  test("promote is atomic under concurrent readers: old or new, never missing, never a mix") {
    val store = freshStore()
    val b = Bucket("/test/pp_race")
    val N = 2000L
    def gen(tag: Int) =
      spark.range(N).select(lit(tag).as("g"), col("id"))
    store.write(b, gen(0))

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          // a full aggregate over whatever `current` resolves to: one
          // generation tag, all N rows — a half-swapped view (two tags) or
          // a vanished path both count as violations
          val rows = store.read(b).groupBy("g").count().collect()
          if (rows.length != 1)
            violations.add("mixed generations: " + rows.mkString(", "))
          else if (rows(0).getLong(1) != N)
            violations.add("partial generation: " + rows(0))
          reads.incrementAndGet()
        } catch {
          case e: Exception => violations.add("read failed mid-promote: " + e)
        }
      }
    })
    reader.start()
    try {
      // fresh buffer name per cycle: promote parks each superseded primary
      // under that buffer's `_ROLES` entry, so no dir is overwritten or deleted
      // while the reader races — the PROMOTE is the only thing under test
      (1 to 10).foreach { i =>
        store.write(b, gen(i), buffer = Some(s"pp$i"))
        store.promote(b, "processed", s"pp$i")
      }
    } finally {
      stop.set(true)
      reader.join(60000)
    }
    assert(violations.isEmpty,
      s"${violations.size} atomicity violations; first: ${violations.peek()}")
    assert(reads.get() > 0, "reader never completed a read — no race exercised")
    val fin = store.read(b).groupBy("g").count().collect()
    assert(fin.length === 1 && fin(0).getInt(0) === 10 && fin(0).getLong(1) === N)
    // and the full demotion chain stayed addressable (ping-pong contract)
    assert(store.read(b, buffer = Some("pp10")).groupBy("g").count()
      .head.getInt(0) === 9)
  }

  test("compaction collapses micro-batch small files per time partition, data intact") {
    val store = freshStore()
    val events = Tables.t(spark, TestSession.sf, "events").cache()
    // 6 appends of 8 tasks each ≈ a micro-batch append history
    (0 until 6).foreach { i =>
      store.write(eventsBucket,
        events.filter(col("event_id") % 6 === i).repartition(8))
    }
    val before = store.parquetFileCount(eventsBucket, "processed")
    val sumBefore = store.read(eventsBucket).agg(sum("event_id")).head().getLong(0)
    val nBefore = store.read(eventsBucket).count()

    val (b0, after) = store.compact(eventsBucket)
    assert(b0 === before)
    assert(after < before / 3, s"compaction $before -> $after files")
    // every row survives, partition layout (and pruning) intact
    assert(store.read(eventsBucket).count() === nBefore)
    assert(store.read(eventsBucket).agg(sum("event_id")).head().getLong(0) === sumBefore)
    assert(store.read(eventsBucket).columns.contains(BucketStore.PartitionCol))
    events.unpersist()
  }

  test("retention ages out old partitions only") {
    val store = freshStore()
    val b = eventsBucket.copy(dataSchema = eventsBucket.dataSchema.copy(
      storage = Some(StorageSchema(existAgeMax = Some(java.time.Duration.ofDays(10))))))
    store.write(b, Tables.t(spark, TestSession.sf, "events"))
    val total = store.read(b).count()
    // events span 2024-01-01..01-30; cutoff = 2024-01-21
    val dropped = store.ageOut(b, "processed", java.time.Instant.parse("2024-01-31T00:00:00Z"))
    assert(dropped > 0)
    val left = store.read(b)
    assert(left.count() < total)
    assert(left.agg(min(BucketStore.PartitionCol)).head.getString(0) >= "2024-01-21")
  }

  test("crud: store with _id autogen, point lookup, counts") {
    val store = freshStore()
    val crud = new CrudService(store, Bucket("/test/crud"))
    val docs = Tables.t(spark, TestSession.sf, "documents")
    crud.storeObjects(docs)
    assert(crud.countObjects() === docs.count())
    val one = crud.getObjectBySpec(Query.allOf().when("doc_id", 7L))
    assert(one.isDefined)
    val id = one.get.getAs[String]("_id")
    assert(crud.getObjectById(id).isDefined)
    assert(crud.countObjectsBySpec(Query.allOf().when("lang", "en").limit(10)) === 10)
  }

  test("crud: create-if-absent vs upsert semantics") {
    val store = freshStore()
    val crud = new CrudService(store, Bucket("/test/merge"))
    val r = Tables.t(spark, TestSession.sf, "region")
      .withColumn("_id", col("r_regionkey").cast("string"))
    crud.storeObjects(r)
    // create-if-absent: same ids with new names must NOT replace
    crud.storeObjects(r.withColumn("r_name", lit("SHOULD_NOT_WIN")))
    assert(store.read(Bucket("/test/merge")).filter(col("r_name") === "SHOULD_NOT_WIN").count() === 0)
    // upsert: batch wins
    crud.storeObjects(r.withColumn("r_name", lit("WINS")), replacePresent = true)
    val after = store.read(Bucket("/test/merge"))
    assert(after.filter(col("r_name") === "WINS").count() === r.count())
    assert(after.count() === r.count())
  }

  test("crud: updateObjectsBySpec rewrites in place; upsert inserts") {
    val store = freshStore()
    val crud = new CrudService(store, Bucket("/test/upd"))
    crud.storeObjects(Tables.t(spark, TestSession.sf, "nation"))
    val n = crud.updateObjectsBySpec(
      Query.allOf().when("n_regionkey", 0),
      Update.update().set("n_name", "REDACTED"))
    assert(n > 0)
    assert(crud.getObjectsBySpec(Query.allOf().when("n_name", "REDACTED")).count() === n)
    // upsert on no-match inserts the synthesized doc
    val m = crud.updateObjectsBySpec(
      Query.allOf().when("n_nationkey", 999),
      Update.update().set("n_name", "ATLANTIS"), upsert = true)
    assert(m === 0)
    assert(crud.getObjectsBySpec(Query.allOf().when("n_name", "ATLANTIS")).count() === 1)
  }

  test("crud: storeObject returns id; multi-get; deleteObjectById") {
    val store = freshStore()
    val crud = new CrudService(store, Bucket("/test/facade"))
    val r = Tables.t(spark, TestSession.sf, "region")
    val id = crud.storeObject(r.limit(1))
    assert(id.nonEmpty)
    assert(crud.getObjectById(id).isDefined)
    crud.storeObjects(r.withColumn("_id", concat(lit("r"), col("r_regionkey"))))
    val got = crud.getObjectsByIds(Seq("r0", "r2", "missing"))
    assert(got.count() === 2)
    assert(crud.deleteObjectById("r0"))
    assert(!crud.deleteObjectById("r0")) // already gone
    assert(crud.getObjectsByIds(Seq("r0")).count() === 0)
  }

  test("crud: non-upsert update counts matches in the rewrite pass") {
    val store = freshStore()
    val crud = new CrudService(store, Bucket("/test/obsupd"))
    crud.storeObjects(Tables.t(spark, TestSession.sf, "nation"))
    val expected = Tables.t(spark, TestSession.sf, "nation")
      .filter(col("n_regionkey") === 2).count()
    val n = crud.updateObjectsBySpec(
      Query.allOf().when("n_regionkey", 2),
      Update.update().increment("n_regionkey", 100))
    assert(n === expected && n > 0)
    // full (non-top-k) delete count comes from the same-pass observation
    val d = crud.deleteObjectsBySpec(Query.allOf().rangeAbove("n_regionkey", 100))
    assert(d === expected)
  }

  test("crud: findAndModify changes one of several matches and returns it") {
    val store = freshStore()
    val crud = new CrudService(store, Bucket("/test/findmod"))
    import spark.implicits._
    crud.storeObjects(Seq(("a", 1, 10L), ("b", 1, 20L), ("c", 2, 30L))
      .toDF("_id", "grp", "v"))
    val after = crud.updateAndReturnObjectBySpec(
      Query.allOf().when("grp", 1), Update.update().increment("v", 100)).get
    val rows = store.read(Bucket("/test/findmod")).select("_id", "v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val changed = rows.filter { case (id, v) =>
      v != Map("a" -> 10L, "b" -> 20L, "c" -> 30L)(id) }
    assert(changed.size === 1, s"findAndModify changed $rows")
    val (id, v) = changed.head
    assert(Set("a", "b")(id))
    assert(after.getAs[String]("_id") === id && after.getAs[Long]("v") === v)
    assert(v === Map("a" -> 110L, "b" -> 120L)(id))
  }

  test("query DSL rejects withAll/exists on _id metadata field") {
    intercept[IllegalArgumentException] {
      graft.dsl.QueryCompiler.compile(
        Query.allOf().withAll("_id", Seq("a", "b")))
    }
    intercept[IllegalArgumentException] {
      graft.dsl.QueryCompiler.compile(Query.allOf().withPresent("_id"))
    }
    // withAny on _id is the ids filter — allowed
    graft.dsl.QueryCompiler.compile(Query.allOf().withAny("_id", Seq("a")))
    // _id ranges are gated (id order is a storage artifact)
    intercept[IllegalArgumentException] {
      graft.dsl.QueryCompiler.compile(Query.allOf().rangeAbove("_id", "a"))
    }
  }

  test("declared document-schema dedup drives ingest (fields + policy)") {
    val store = freshStore()
    val docs = Tables.t(spark, TestSession.sf, "documents")
    // KeepLast on lang: one row per language, the batch's later row wins
    val bLast = Bucket("/test/docdedup", DataSchema(document =
      Some(DocumentSchema(Seq("lang"), DedupPolicy.KeepLast))))
    val crudLast = new CrudService(store, bLast)
    crudLast.storeObjects(docs.orderBy("doc_id").coalesce(1))
    val kept = store.read(bLast).select("lang", "doc_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = docs.groupBy("lang").agg(max("doc_id").as("m")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept === expected)
    // Custom policy: user merge collapses the group (sum n_chars per lang)
    val merge = (rows: Seq[org.apache.spark.sql.Row]) => {
      val first = rows.head
      org.apache.spark.sql.Row(first.get(0), first.get(1), first.get(2),
        first.get(3), rows.map(_.getLong(4)).sum)
    }
    val bCustom = Bucket("/test/docmerge", DataSchema(document =
      Some(DocumentSchema(Seq("lang"), DedupPolicy.Custom(merge)))))
    val crudCustom = new CrudService(store, bCustom)
    crudCustom.storeObjects(docs)
    val got = store.read(bCustom).select("lang", "n_chars").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = docs.groupBy("lang").agg(sum("n_chars").as("s")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("bucket registry round-trips descriptors; list by prefix; unregister") {
    val registry = new graft.meta.BucketRegistry(freshStore())
    val b = Bucket("/prod/events/clicks", DataSchema(
      temporal = Some(TemporalSchema("ts", GroupingPeriod.Hourly)),
      storage = Some(StorageSchema(codec = Some("zstd"),
        existAgeMax = Some(java.time.Duration.ofDays(30)))),
      searchIndex = Some(SearchIndexSchema(tokenizeByDefault = false,
        typeOverride = Map("ts" -> "TIMESTAMP"), collidePolicy = "error")),
      document = Some(DocumentSchema(Seq("url", "ts"), DedupPolicy.KeepLast)),
      columnar = Some(ColumnarSchema(fieldIncludePatternList = Seq("evt_*"))),
      // comma inside a declared type must survive the round-trip
      dataWarehouse = Some(WarehouseSchema(
        Map("url" -> "STRING", "amount" -> "DECIMAL(18,6)")))))
    registry.registerAll(Seq(b, Bucket("/prod/events/views"), Bucket("/dev/x")))
    val got = registry.get("/prod/events/clicks").get
    assert(got === b)
    assert(registry.get("/dev/x").get === Bucket("/dev/x"))
    assert(registry.list("/prod/").count() === 2)
    assert(registry.list().count() === 3)
    assert(registry.unregister("/dev/x"))
    assert(registry.get("/dev/x").isEmpty)
    assert(registry.list().count() === 2)
  }

  test("columnar schema prunes the stored scan to the declared fields") {
    val store = freshStore()
    val b = Bucket("/test/colmnar", DataSchema(
      columnar = Some(ColumnarSchema(
        fieldIncludePatternList = Seq("event_*", "user_id"),
        fieldExcludeList = Seq("event_type")))))
    store.write(b, Tables.t(spark, TestSession.sf, "events"))
    val view = store.readColumnar(b)
    // includes: event_* glob + user_id name; excludes win over includes
    assert(view.columns.toSeq === Seq("event_id", "user_id"))
    // the projection reaches the parquet scan: ReadSchema has ONLY the kept
    // columns, so a columnar consumer reads only their chunks
    val plan = view.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("event_id") && readSchema.contains("user_id") &&
      !readSchema.contains("props") && !readSchema.contains("event_type"),
      s"scan not pruned: $readSchema")
    // no columnar schema → untouched
    assert(store.readColumnar(b.copy(dataSchema = DataSchema())).columns.length >
      view.columns.length)
  }

  test("collide policy 'error' rejects nested conflicts with the dotted path") {
    val a = spark.range(2).select(col("id"), struct(lit(1).as("x")).as("meta"))
    val b = spark.range(2).select(col("id"), struct(lit("s").as("x")).as("meta"))
    val ex = intercept[IllegalArgumentException] {
      SchemaEvolution.unionWithPolicy(Seq(a, b), policy = "error")
    }
    assert(ex.getMessage.contains("meta.x"), ex.getMessage)
    // bridged: a batch lacking the field entirely must not mask the conflict
    val bridge = spark.range(2).select(col("id"))
    val ex2 = intercept[IllegalArgumentException] {
      SchemaEvolution.unionWithPolicy(Seq(a, bridge, b), policy = "error")
    }
    assert(ex2.getMessage.contains("meta.x"), ex2.getMessage)
    // default new_type policy still widens via the variant fallback
    assert(SchemaEvolution.unionWithPolicy(Seq(a, b)).count() === 4)
  }

  test("crud: delete by spec incl. top-k; deleteDatastore") {
    val store = freshStore()
    val b = Bucket("/test/del")
    val crud = new CrudService(store, b)
    crud.storeObjects(Tables.t(spark, TestSession.sf, "orders"))
    val total = crud.countObjects()
    val deleted = crud.deleteObjectsBySpec(
      Query.allOf().when("o_orderstatus", "F")
        .orderBy("o_totalprice" -> -1).limit(5))
    assert(deleted === 5)
    assert(crud.countObjects() === total - 5)
    crud.deleteDatastore()
    assert(!store.exists(b))
  }

  test("crud: mergeInto commits through buffer+promote, atomically on failure") {
    val root = java.nio.file.Paths.get(Scratch.dir("graft_store"))
    val store = new BucketStore(spark, root.toString)
    val b = Bucket("/test/merge")
    val crud = new CrudService(store, b)
    import spark.implicits._
    crud.storeObjects(Seq((1, 10, "keep"), (2, 20, "upd"), (3, 30, "del"))
      .toDF("k", "amount", "tag"))

    // happy path: delete tagged rows, update matched amounts, insert new keys
    crud.mergeInto(
      Seq((2, 5), (3, 0), (4, 40)).toDF("k", "src_amount"), Seq("k"),
      matchedDelete = Some(col("tag") === "del"),
      matchedUpdate = Map("amount" -> (col("amount") + col("src_amount"))),
      notMatchedInsert = Some(Map("amount" -> col("src_amount"))))
    val after = store.read(b).select("k", "amount")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(after === Map(1 -> 10, 2 -> 25, 4 -> 40))

    // failure atomicity 1: MERGE cardinality violation (dup source keys)
    // throws before any write; the stage is untouched
    intercept[IllegalArgumentException] {
      crud.mergeInto(Seq((5, 1), (5, 2)).toDF("k", "src_amount"), Seq("k"),
        notMatchedInsert = Some(Map("amount" -> col("src_amount"))))
    }
    // failure atomicity 2: a source row that throws DURING the buffer write
    // job — the old snapshot must stay readable and byte-identical (promote
    // never ran) and the partial buffer must be torn down, not orphaned
    // poison a NON-key column: the merge's cardinality pre-check groups on
    // k only (column pruning skips src_amount), so the throw happens in the
    // buffer-write job itself, mid-rewrite
    val poison = udf((a: Int) =>
      if (a == 1) sys.error("poisoned row") else a)
    intercept[Exception] {
      crud.mergeInto(
        Seq((4, 1)).toDF("k", "a0")
          .select(col("k"), poison(col("a0")).as("src_amount")), Seq("k"),
        matchedUpdate = Map("amount" -> col("src_amount")))
    }
    val stable = store.read(b).select("k", "amount")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(stable === Map(1 -> 10, 2 -> 25, 4 -> 40))
    // no buffer dirs or stale version dirs may survive any of the three
    // calls: the only data dir left is the one _ROLES names
    val ls = Files.list(root.resolve(b.signature).resolve("processed"))
    val entries = try {
      val it = ls.iterator(); val buf = scala.collection.mutable.Buffer[String]()
      while (it.hasNext) buf += it.next().getFileName.toString
      buf.toSeq
    } finally ls.close()
    val activeName =
      java.nio.file.Paths.get(store.stagePath(b)).getFileName.toString
    assert(entries.filterNot(_ == "_ROLES") === Seq(activeName),
      s"orphan buffers: $entries")
    assert(entries.filterNot(_ == "_ROLES").forall(_.startsWith("v_")),
      s"buffer dir survived: $entries")
  }
}
