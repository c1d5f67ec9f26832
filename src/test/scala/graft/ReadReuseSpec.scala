package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession.jobsDuring
import graft.model._
import graft.store.BucketStore
import graft.util.Scratch

/** `BucketStore.read` reuses the schema it inferred while the stage's file
  * set is unchanged — a repeat read starts no Spark job — and every change
  * to the file set is seen by the next read, with no invalidation call:
  * appends, rewrite/promote, compaction, age-out, a write by another store
  * instance on the same root, and a schema-evolving append. A rewrite that
  * keeps the schema hands its own schema to the next read. */
class ReadReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private val bucket = Bucket("/test/read_reuse", DataSchema(
    temporal = Some(TemporalSchema("ts", GroupingPeriod.Daily)),
    storage = Some(StorageSchema(existAgeMax = Some(java.time.Duration.ofDays(5))))))

  /** Rows `from until to`, one an hour from 2024-01-01, ids `r<i>`. */
  private def rows(from: Long, to: Long): DataFrame =
    spark.range(from, to).select(
      concat(lit("r"), col("id")).as("_id"),
      timestamp_seconds(lit(1704067200L) + col("id") * 3600).as("ts"),
      col("id").as("n"))

  private def ids(df: DataFrame): Set[String] =
    df.select("_id").collect().map(_.getString(0)).toSet

  /** After a change: the reused read agrees with a fresh inference over the
    * stage dir, holds exactly `want`, and a second read starts no job. */
  private def assertSees(store: BucketStore, want: Set[String], what: String): Unit = {
    val back = store.read(bucket)
    val fresh = spark.read.parquet(store.stagePath(bucket))
    assert(back.schema === fresh.schema, s"after $what")
    assert(ids(back) === want, s"after $what")
    val (_, jobs) = jobsDuring(store.read(bucket))
    assert(jobs === 0, s"a repeat read after $what started $jobs jobs")
  }

  private def range(from: Long, to: Long): Set[String] =
    (from until to).map(i => s"r$i").toSet

  test("a repeat read of an unchanged stage starts no job; two reads self-join") {
    val store = new BucketStore(spark, Scratch.dir("graft_reuse"))
    store.write(bucket, rows(0, 100))
    val (_, first) = jobsDuring(store.read(bucket))
    assert(first > 0, "the first read inferred no schema")
    val (_, again) = jobsDuring(store.read(bucket))
    assert(again === 0)
    val (a, b) = (store.read(bucket), store.read(bucket))
    assert(a.join(b, a("_id") === b("_id")).count() === 100L)
  }

  test("every change to the stage's files is seen by the next read") {
    val root = Scratch.dir("graft_reuse")
    val store = new BucketStore(spark, root)
    store.write(bucket, rows(0, 100))
    assertSees(store, range(0, 100), "the first write")

    store.write(bucket, rows(100, 150))
    assertSees(store, range(0, 150), "an append into current")

    store.rewrite(bucket, "processed")(_.filter(col("n") >= 10))
    assertSees(store, range(10, 150), "a rewrite")

    store.write(bucket, rows(500, 520), buffer = Some("staging"),
      mode = org.apache.spark.sql.SaveMode.Overwrite)
    store.promote(bucket, "processed", "staging")
    assertSees(store, range(500, 520), "a promote")
    store.promote(bucket, "processed", "staging")
    assertSees(store, range(10, 150), "a promote back")

    store.write(bucket, rows(150, 151))
    store.write(bucket, rows(151, 152))
    val (before, after) = store.compact(bucket, shufflePartitions = 2)
    assert(after < before)
    assertSees(store, range(10, 152), "a compaction")

    // rows 10..151 span 2024-01-01..2024-01-07; cutoff = 2024-01-03
    assert(store.ageOut(bucket, "processed",
      java.time.Instant.parse("2024-01-08T00:00:00Z")) > 0)
    assertSees(store, range(48, 152), "an age-out")

    new BucketStore(spark, root).write(bucket, rows(200, 210))
    assertSees(store, range(48, 152) ++ range(200, 210),
      "a write by a second store on the same root")

    store.write(bucket, rows(300, 310).withColumn("extra", lit("x")))
    assertSees(store, range(48, 152) ++ range(200, 210) ++ range(300, 310),
      "a schema-evolving append")
  }

  test("a rewrite that keeps the stage schema seeds the next read; one that " +
      "changes it re-infers") {
    val store = new BucketStore(spark, Scratch.dir("graft_reuse"))
    val crud = new graft.crud.CrudService(store, bucket)
    crud.storeObjects(rows(0, 100))
    assertSees(store, range(0, 100), "the first store")
    // after a rewrite that keeps the schema: the FIRST read starts no job
    // and its schema equals a fresh inference over the promoted dir
    def seeded(want: Set[String], what: String): Unit = {
      val (back, jobs) = jobsDuring(store.read(bucket))
      assert(jobs === 0, s"the first read after $what started $jobs jobs")
      assert(back.schema === spark.read.parquet(store.stagePath(bucket)).schema,
        s"after $what")
      assert(ids(back) === want, s"after $what")
    }
    crud.storeObjects(rows(90, 120), replacePresent = true)
    seeded(range(0, 120), "an upsert")
    assert(crud.updateObjectsBySpec(graft.dsl.Query.allOf().when("n", 5L),
      graft.dsl.Update.update().set("n", 500L)) === 1L)
    seeded(range(0, 120), "an update")
    assert(store.read(bucket).filter(col("n") === 500L).count() === 1L)
    assert(crud.deleteObjectsBySpec(graft.dsl.Query.allOf().when("n", 7L)) === 1L)
    seeded(range(0, 120) - "r7", "a delete")
    crud.mergeInto(rows(110, 130).select(col("_id"), col("n").as("src_n"),
        col("ts").as("src_ts")), Seq("_id"),
      matchedUpdate = Map("n" -> (col("src_n") + 1000L)),
      notMatchedInsert = Some(Map("n" -> col("src_n"), "ts" -> col("src_ts"))))
    seeded(range(0, 130) - "r7", "a merge")
    assert(store.read(bucket).filter(col("n") >= 1000L).count() === 10L)
    // a schema-evolving upsert writes a new column: the next read infers
    crud.storeObjects(rows(200, 210).withColumn("extra", lit("x")),
      replacePresent = true)
    val (_, evolving) = jobsDuring(store.read(bucket))
    assert(evolving > 0, "the read after a schema-evolving rewrite inferred nothing")
    assertSees(store, range(0, 130) - "r7" ++ range(200, 210),
      "a schema-evolving upsert")
    store.write(bucket, rows(300, 310).withColumn("more", lit(1)))
    assertSees(store, range(0, 130) - "r7" ++ range(200, 210) ++ range(300, 310),
      "a schema-evolving append")
  }

  test("superseded versions leave one schema entry per stage role") {
    val root = Scratch.dir("graft_reuse")
    val store = new BucketStore(spark, root)
    store.write(bucket, rows(0, 50))
    for (i <- 1 to 10) {
      store.rewrite(bucket, "processed")(_.filter(col("n") >= i))
      assert(store.read(bucket).count() === 50L - i)
    }
    store.write(bucket, rows(0, 5), buffer = Some("side"))
    assert(store.read(bucket, buffer = Some("side")).count() === 5L)
    val stageRoot = Paths.get(store.stagePath(bucket)).getParent.toString
    val keys = BucketStore.cachedSchemaKeys(spark).filter(_._1 == stageRoot)
    assert(keys === Set(stageRoot -> "current", stageRoot -> "buffer_side"))
  }
}
