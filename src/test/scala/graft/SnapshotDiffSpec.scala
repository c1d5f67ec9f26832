package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{MergeInto, SnapshotDiff}
import graft.util.Scratch

/** Snapshot diff vs a naive reference (null transitions included — the
  * case SQL `<>` would silently drop), and the order-guarded merge's
  * batch-split/replay invariance that st12's streaming sink relies on. */
class SnapshotDiffSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("diff matches a naive reference, null transitions included") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(61)
    def snap(n: Int) = (1L to n.toLong).map { i =>
      (i, if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(4).toLong),
        s"s${rnd.nextInt(3)}")
    }
    val old = snap(300)
    val neu = snap(280).map { case (k, v, s) => (k + 40, v, s) } // 41..320
    val got = SnapshotDiff.diff(old.toDF("k", "v", "s"),
        neu.toDF("k", "v", "s"), Seq("k"))
      .as[(String, Long)].collect().sorted.toSeq
    val om = old.map(r => r._1 -> (r._2, r._3)).toMap
    val nm = neu.map(r => r._1 -> (r._2, r._3)).toMap
    val naive = ((om.keySet ++ nm.keySet).toSeq.flatMap { k =>
      (om.get(k), nm.get(k)) match {
        case (Some(_), None) => Some(("D", k))
        case (None, Some(_)) => Some(("I", k))
        case (Some(a), Some(b)) if a != b => Some(("U", k))
        case _ => None
      }
    }).sorted
    assert(got === naive)
    // the regime actually covered what it claims
    assert(naive.count(_._1 == "U") > 0 && naive.count(_._1 == "D") > 0)
    assert(old.exists(_._2.isEmpty)) // null values occurred
  }

  test("mismatched snapshot schemas are rejected") {
    val spark2 = spark
    import spark2.implicits._
    val a = Seq((1L, "x")).toDF("k", "v")
    val b = Seq((1L, "x")).toDF("k", "w")
    val ex = intercept[IllegalArgumentException] {
      SnapshotDiff.diff(a, b, Seq("k"))
    }
    assert(ex.getMessage.contains("schemas differ"))
  }

  test("changeset → merge-apply reconstructs the new snapshot, nulls included") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(71)
    def snap(shift: Long) = (1L to 250L).map { i =>
      (i + shift, if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(5).toLong),
        s"s${rnd.nextInt(3)}")
    }
    val old = snap(0)
    val neu = snap(30) // 31..280: D for 1..30, I for 251..280, U/noop between
    val oldDf = old.toDF("k", "v", "s")
    val neuDf = neu.toDF("k", "v", "s")
    val cs = SnapshotDiff.changeset(oldDf, neuDf, Seq("k"))
    val applied = MergeInto.merge(oldDf, cs, Seq("k"),
        matchedDelete = Some(col("op") === "D"),
        matchedUpdate = Map("v" -> col("new_v"), "s" -> col("new_s")),
        notMatchedInsert = Some(Map("v" -> col("new_v"), "s" -> col("new_s"))))
      .as[(Long, Option[Long], String)].collect().sorted.toSeq
    assert(applied === neu.sorted)
    // the regimes this closure must survive actually occurred
    assert(old.exists(_._2.isEmpty) && neu.exists(_._2.isEmpty))
  }

  test("order-guarded merge is invariant to batch split and replay") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(67)
    val updates = (1 to 200).map(i =>
      (rnd.nextInt(20).toLong, rnd.nextInt(50).toLong, i.toLong))
      .toSeq // (key, ts, uid)
    def applyBatches(batches: Seq[Seq[(Long, Long, Long)]]) = {
      var state = Seq.empty[(Long, Long, Long)].toDF("k", "ts", "uid")
      batches.filter(_.nonEmpty).foreach { b =>
        // reduce the batch to its latest row per key under (ts, uid)
        val latest = b.groupBy(_._1).map(_._2.maxBy(r => (r._2, r._3))).toSeq
          .map { case (k, t, u) => (k, t, u) }
        val src = latest.toDF("k", "src_ts", "src_uid")
        val newer = col("src_ts") > col("ts") ||
          (col("src_ts") === col("ts") && col("src_uid") > col("uid"))
        state = MergeInto.merge(state, src, Seq("k"),
          matchedUpdate = Map(
            "ts" -> when(newer, col("src_ts")).otherwise(col("ts")),
            "uid" -> when(newer, col("src_uid")).otherwise(col("uid"))),
          notMatchedInsert = Some(Map(
            "ts" -> col("src_ts"), "uid" -> col("src_uid"))))
      }
      state.as[(Long, Long, Long)].collect().sorted.toSeq
    }
    val oneShot = applyBatches(Seq(updates))
    val split = applyBatches(updates.grouped(37).toSeq)
    val withReplay = applyBatches(
      updates.grouped(50).toSeq.flatMap(b => Seq(b, b))) // every batch twice
    assert(oneShot === split)
    assert(oneShot === withReplay)
    assert(oneShot.size === updates.map(_._1).distinct.size)
  }

  test("order-guarded PARTITIONED merge sink (st30's shape) is invariant " +
      "to batch split and replay") {
    val spark2 = spark
    import spark2.implicits._
    import java.nio.file.Files
    val rnd = new scala.util.Random(83)
    val updates = (1 to 200).map(i =>
      (rnd.nextInt(20).toLong, rnd.nextInt(50).toLong, i.toLong))
      .toSeq // (key, ts, uid)
    def applyBatches(batches: Seq[Seq[(Long, Long, Long)]]) = {
      val store = new graft.store.PartitionedStore(spark,
        Scratch.dir("graft_st30spec"), Seq("k"), 4)
      store.init(Seq.empty[(Long, Long, Long)].toDF("k", "ts", "uid"))
      batches.filter(_.nonEmpty).foreach { b =>
        val latest = b.groupBy(_._1).map(_._2.maxBy(r => (r._2, r._3))).toSeq
        val src = latest.toDF("k", "src_ts", "src_uid")
        val newer = col("src_ts") > col("ts") ||
          (col("src_ts") === col("ts") && col("src_uid") > col("uid"))
        MergeInto.mergePartitioned(store, src,
          matchedUpdate = Map(
            "ts" -> when(newer, col("src_ts")).otherwise(col("ts")),
            "uid" -> when(newer, col("src_uid")).otherwise(col("uid"))),
          notMatchedInsert = Some(Map(
            "ts" -> col("src_ts"), "uid" -> col("src_uid"))))
      }
      store.read().as[(Long, Long, Long)].collect().sorted.toSeq
    }
    val oneShot = applyBatches(Seq(updates))
    val split = applyBatches(updates.grouped(37).toSeq)
    val withReplay = applyBatches(
      updates.grouped(50).toSeq.flatMap(b => Seq(b, b))) // every batch twice
    assert(oneShot === split)
    assert(oneShot === withReplay)
    assert(oneShot.size === updates.map(_._1).distinct.size)
    // and it matches the UNPARTITIONED guarded merge's final state — the
    // two sinks are the same semantics at different commit granularity
    var flat = Seq.empty[(Long, Long, Long)].toDF("k", "ts", "uid")
    updates.grouped(37).toSeq.foreach { b =>
      val latest = b.groupBy(_._1).map(_._2.maxBy(r => (r._2, r._3))).toSeq
      val src = latest.toDF("k", "src_ts", "src_uid")
      val newer = col("src_ts") > col("ts") ||
        (col("src_ts") === col("ts") && col("src_uid") > col("uid"))
      flat = MergeInto.merge(flat, src, Seq("k"),
        matchedUpdate = Map(
          "ts" -> when(newer, col("src_ts")).otherwise(col("ts")),
          "uid" -> when(newer, col("src_uid")).otherwise(col("uid"))),
        notMatchedInsert = Some(Map(
          "ts" -> col("src_ts"), "uid" -> col("src_uid"))))
    }
    assert(oneShot === flat.as[(Long, Long, Long)].collect().sorted.toSeq)
  }
}
