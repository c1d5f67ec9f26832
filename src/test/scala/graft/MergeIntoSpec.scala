package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MergeInto
import graft.util.Scratch

/** Three-clause MERGE semantics on hand-built rows: every clause fires,
  * delete wins over update, unlisted insert columns go null, and the
  * no-insert mode drops source-only keys. */
class MergeIntoSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def fixture = {
    val spark2 = spark
    import spark2.implicits._
    val target = Seq( // (k, price, status)
      (1L, 10.0, "A"), (2L, 20.0, "B"), (3L, 30.0, "C"), (4L, 40.0, "D"))
      .toDF("k", "price", "status")
    val source = Seq( // (k, new_price, del)
      (2L, 99.0, false), // matched → update
      (3L, 0.0, true),   // matched + flag → delete
      (9L, 55.0, false)) // not matched → insert
      .toDF("k", "new_price", "del")
    (target, source)
  }

  test("update, delete, insert, and carry-over all dispatch correctly") {
    val (target, source) = fixture
    val got = MergeInto.merge(target, source, Seq("k"),
        matchedDelete = Some(col("del")),
        matchedUpdate = Map("price" -> col("new_price")),
        notMatchedInsert = Some(Map("price" -> col("new_price"))))
      .orderBy("k")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(got === Seq(
      (1L, 10.0, "A"),  // untouched target row carries over
      (2L, 99.0, "B"),  // updated price, status carried
      (4L, 40.0, "D"),  // untouched (3 was deleted)
      (9L, 55.0, null))) // inserted; unlisted status → null
  }

  test("without an insert clause, source-only keys are ignored") {
    val (target, source) = fixture
    val got = MergeInto.merge(target, source, Seq("k"),
        matchedDelete = Some(col("del")),
        matchedUpdate = Map("price" -> col("new_price")))
      .orderBy("k").select("k").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 2L, 4L))
  }

  test("duplicate source keys and unknown clause columns are rejected") {
    val (target, source) = fixture
    val dup = intercept[IllegalArgumentException] {
      MergeInto.merge(target, source.unionByName(source), Seq("k"),
        matchedUpdate = Map("price" -> col("new_price")))
    }
    assert(dup.getMessage.contains("multiple rows"))
    val typo = intercept[IllegalArgumentException] {
      MergeInto.merge(target, source, Seq("k"),
        matchedUpdate = Map("pricee" -> col("new_price")))
    }
    assert(typo.getMessage.contains("typo"))
  }

  test("colliding non-key columns and reserved names are rejected") {
    val (target, _) = fixture
    val badSource = target // same column names → collision
    val ex = intercept[IllegalArgumentException] {
      MergeInto.merge(target, badSource, Seq("k"))
    }
    assert(ex.getMessage.contains("collide"))
  }

  test("partitioned merge ≡ whole-table merge; untouched partitions keep " +
      "their physical files byte-identical; empty source is a no-op") {
    val spark2 = spark
    import spark2.implicits._
    import java.nio.file.{Files, Paths}
    val target = (0L until 400L).map(i => (i, i * 10.0, s"s${i % 3}"))
      .toDF("k", "v", "s")
    val root = Scratch.dir("graft_pmerge")
    val store = new graft.store.PartitionedStore(spark, root, Seq("k"), 8)
    store.init(target)
    // a source spanning matched keys (380..399) and inserts (400..419),
    // CONFINED to 2 of the 8 partitions via the store's own routing expr —
    // the locality a real CDC batch has and the merge must exploit
    val sourceAll = (380L until 420L).map(i => (i, i + 0.5)).toDF("k", "src_v")
    val twoParts = store.touchedBy(sourceAll).take(2)
    val source = sourceAll
      .filter(store.partitionId.isInCollection(twoParts.toSet))
    assert(source.count() > 0)
    val before = store.manifest()
    // fingerprint every data file of the would-be-untouched partitions
    def files(ids: Set[Int]) = ids.toSeq.flatMap { i =>
      val d = Paths.get(root, before(i))
      import scala.jdk.CollectionConverters._
      val w = Files.walk(d)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
        p.toString -> (Files.size(p),
          Files.getLastModifiedTime(p).toMillis)).toList
      finally w.close()
    }.toMap
    val untouchedIds = before.keySet -- store.touchedBy(source).toSet
    val fpBefore = files(untouchedIds)
    val touched = MergeInto.mergePartitioned(store, source,
      matchedUpdate = Map("v" -> col("src_v")),
      notMatchedInsert = Some(Map("v" -> col("src_v"))))
    assert(touched.sorted === store.touchedBy(source).sorted)
    assert((before.keySet -- touched.toSet) === untouchedIds)
    // untouched partitions: same manifest entries, same files, same bytes
    untouchedIds.foreach(i =>
      assert(store.manifest()(i) === before(i), s"partition $i moved"))
    assert(files(untouchedIds) === fpBefore,
      "untouched partitions' physical files changed")
    // content ≡ the whole-table merge over the same clauses (insert leaves
    // the unlisted 's' column null)
    val expected = MergeInto.merge(target, source, Seq("k"),
        matchedUpdate = Map("v" -> col("src_v")),
        notMatchedInsert = Some(Map("v" -> col("src_v"))))
      .as[(Long, Double, Option[String])].collect().sorted.toSeq
    assert(store.read().as[(Long, Double, Option[String])]
      .collect().sorted.toSeq === expected)
    // empty source: no read, no commit, no version bump
    val v = store.version()
    assert(MergeInto.mergePartitioned(store, sourceAll.filter(lit(false)),
      matchedUpdate = Map("v" -> col("src_v"))) === Nil)
    assert(store.version() === v)
    // cardinality violation: the fused pre-write job fails EAGERLY, names
    // the offending key, and nothing was read or committed
    val dup = intercept[IllegalArgumentException] {
      MergeInto.mergePartitioned(store, source.unionByName(source),
        matchedUpdate = Map("v" -> col("src_v")))
    }
    assert(dup.getMessage.contains("multiple rows") &&
      dup.getMessage.contains("cardinality"), dup.getMessage)
    assert(store.version() === v, "failed merge must not commit")
  }
}
