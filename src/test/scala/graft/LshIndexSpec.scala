package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{LshIndex, TextDedup}
import graft.util.Scratch

/** The persisted maintained LSH dedup index (q:dd19): append ≡ rebuild ≡
  * the one-shot two-sided band join, a randomized lifecycle tracks the
  * from-scratch recompute, batch queries prune at the partition-directory
  * level, and the replay/erasure guards inherited from the store contract
  * hold. */
class LshIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private lazy val docs = Tables.t(spark, TestSession.sf, "documents").cache()

  private def newIndex(nPartitions: Int = 8) = new LshIndex(spark,
    Scratch.dir("graft_lshidx"), nPartitions)

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select("corpus_doc", "new_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("append ≡ rebuild ≡ the one-shot two-sided join: the maintained " +
      "index's commit history cannot show in the candidate set") {
    val a = docs.filter(col("doc_id") % 4 === 1)
    val b = docs.filter(col("doc_id") % 4 === 2)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    val oneShot = pairs(TextDedup.minhashCandidatesAgainst(
      a.unionByName(b), batch, "doc_id", "text"))
    assert(oneShot.nonEmpty, "fixture degenerate: no cross-quarter collisions")
    val appended = newIndex()
    appended.build(a)
    assert(appended.append(b).nonEmpty)
    val rebuilt = newIndex()
    rebuilt.build(a.unionByName(b))
    assert(pairs(appended.candidates(batch)) === oneShot)
    assert(pairs(rebuilt.candidates(batch)) === oneShot)
    // an empty batch: schema-complete empty result, no failure
    assert(appended.candidates(docs.filter(col("doc_id") < 0)).count() === 0L)
    // an empty append: no-op, no version bump
    val v = appended.store.version()
    assert(appended.append(docs.filter(col("doc_id") < 0)) === Nil)
    assert(appended.store.version() === v)
  }

  test("randomized append/remove/compact lifecycle tracks the one-shot " +
      "recompute over the maintained corpus (fixed seed)") {
    val rnd = new scala.util.Random(53)
    val universe = docs.filter(col("doc_id") % 7 =!= 0)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    val allIds = universe.select("doc_id").collect().map(_.getLong(0)).toVector
    def dfOf(ids: Set[Long]) =
      universe.filter(col("doc_id").isInCollection(ids))
    var present = allIds.filter(_ % 3 == 0).toSet
    val idx = newIndex()
    idx.build(dfOf(present))
    def check(tag: String): Unit = {
      val got = pairs(idx.candidates(batch))
      val want = pairs(TextDedup.minhashCandidatesAgainst(
        dfOf(present), batch, "doc_id", "text"))
      assert(got === want, s"index diverged from the recompute after $tag " +
        s"(|present| = ${present.size})")
    }
    check("build")
    for (round <- 1 to 6) {
      rnd.nextInt(3) match {
        case 0 =>
          val fresh = rnd.shuffle(allIds.filterNot(present))
            .take(1 + rnd.nextInt(60)).toSet
          if (fresh.nonEmpty) {
            idx.append(dfOf(fresh))
            present ++= fresh
            check(s"append#$round(${fresh.size})")
          }
        case 1 =>
          val removable = rnd.shuffle(present.toVector)
            .take(rnd.nextInt(math.max(1, present.size - 8)))
          if (removable.nonEmpty) {
            assert(idx.remove(dfOf(removable.toSet)) > 0L)
            present --= removable
            check(s"remove#$round(${removable.size})")
          }
        case 2 =>
          idx.compact()
          check(s"compact#$round")
      }
    }
    assert(present !== allIds.filter(_ % 3 == 0).toSet, "lifecycle was a no-op")
  }

  test("a batch query reads a strict subset of the index's partition dirs " +
      "(bucket-level prune through the store manifest)") {
    val idx = newIndex(8)
    idx.build(docs)
    val all = idx.store.read().inputFiles.toSet
    val cand = idx.candidates(docs.filter(col("doc_id") === 1))
    val touched = cand.inputFiles.filter(all.contains).toSet
    assert(touched.nonEmpty, "query plan reads no index files?")
    assert(touched.size < all.size,
      s"single-doc query read all ${all.size} index files — no bucket prune")
    // correctness of the pruned read: identical to the unpruned one-shot
    assert(pairs(cand) === pairs(TextDedup.minhashCandidatesAgainst(
      docs, docs.filter(col("doc_id") === 1), "doc_id", "text")))
  }

  test("replay and erasure guards: a re-appended doc fails the write " +
      "loudly and rolls back; absent victims fail loudly by default; " +
      "erased docs stop colliding") {
    val half = docs.filter(col("doc_id") % 2 === 0)
    val idx = newIndex(4)
    idx.build(half)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val before = pairs(idx.candidates(batch))
    val v = idx.store.version()
    val replay = intercept[Exception] {
      idx.append(half.limit(3))
    }
    assert(Iterator.iterate[Throwable](replay)(_.getCause)
      .takeWhile(_ != null).take(8)
      .exists(t => t.getMessage != null && t.getMessage.contains("replays")),
      s"replay failure lost its message: ${replay.getMessage}")
    assert(idx.store.version() === v, "failed append must not commit")
    assert(pairs(idx.candidates(batch)) === before)
    // erasure: victims' pairs disappear, everything else is untouched
    val victims = half.filter(col("doc_id") % 4 === 0)
    assert(idx.remove(victims) > 0L)
    val after = pairs(idx.candidates(batch))
    assert(after === pairs(TextDedup.minhashCandidatesAgainst(
      half.filter(col("doc_id") % 4 === 2), batch, "doc_id", "text")))
    assert(after.forall(_._1 % 4 != 0), "an erased doc still collides")
    // a doc the index never held: loud by default, a no-op when waived
    val ghost = docs.filter(col("doc_id") % 2 === 1).limit(2)
    val e = intercept[IllegalArgumentException] { idx.remove(ghost) }
    assert(e.getMessage.contains("not in the index"))
    assert(idx.remove(ghost, requirePresent = false) === 0L)
  }
}
