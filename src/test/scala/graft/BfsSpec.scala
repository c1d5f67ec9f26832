package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.Bfs
import graft.util.Scratch

/** Multi-source BFS: exact hop levels on known graphs, directed vs
  * undirected traversal, hop cutoff and early exit, and the checkpointDir
  * mode's two-channel eager cleanup (visited and frontier chains must not
  * delete each other's files mid-run). */
class BfsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def df2(rows: Seq[(Long, Long)]) = {
    val s = spark; import s.implicits._
    rows.toDF("a", "b")
  }
  private def df1(rows: Seq[Long]) = {
    val s = spark; import s.implicits._
    rows.toDF("n")
  }
  private def toMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("hop levels on a chain + disconnected component; unreached absent") {
    // 1-2-3-4-5 chain, 10-11 island
    val edges = df2(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)))
    val out = toMap(Bfs.hopLevels(edges, df1(Seq(1L)), maxHops = 10))
    assert(out === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
  }

  test("maxHops truncates the expansion; sources dedup; multi-source min") {
    val edges = df2(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val out = toMap(Bfs.hopLevels(edges, df1(Seq(1L, 1L, 5L)), maxHops = 1))
    // both endpoints are sources; only the 1-hop shell joins them
    assert(out === Map(1L -> 0, 5L -> 0, 2L -> 1, 4L -> 1))
  }

  test("directed traversal follows edge direction only") {
    val edges = df2(Seq((1L, 2L), (2L, 3L), (4L, 1L)))
    val out = toMap(
      Bfs.hopLevels(edges, df1(Seq(1L)), maxHops = 5, undirected = false))
    assert(out === Map(1L -> 0, 2L -> 1, 3L -> 2)) // 4 only reaches IN
  }

  test("cycle: early exit once the frontier empties, distances exact") {
    val edges = df2(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    val out = toMap(Bfs.hopLevels(edges, df1(Seq(1L)), maxHops = 50))
    assert(out === Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2))
  }

  test("tagged hop levels: exact per-source distances on a known graph") {
    // 1-2-3-4-5 chain, 10-11 island; landmarks 1 and 10
    val edges = df2(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)))
    val out = Bfs.taggedHopLevels(edges, df1(Seq(1L, 10L)), maxHops = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out === Map(
      (1L, 1L) -> 0, (1L, 2L) -> 1, (1L, 3L) -> 2, (1L, 4L) -> 3, (1L, 5L) -> 4,
      (10L, 10L) -> 0, (10L, 11L) -> 1))
  }

  test("tagged collapse law: min over sources == multi-source hopLevels") {
    // a graph with shared shells so the min genuinely collapses: two
    // sources on opposite ends of a braided chain
    val edges = df2(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (1L, 3L), (4L, 6L), (2L, 7L), (7L, 8L)))
    val srcs = df1(Seq(1L, 6L))
    val tagged = Bfs.taggedHopLevels(edges, srcs, maxHops = 10)
    val collapsed = tagged.groupBy("node")
      .agg(org.apache.spark.sql.functions.min("dist").as("dist"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val multi = toMap(Bfs.hopLevels(edges, srcs, maxHops = 10))
    assert(collapsed === multi)
  }

  test("tagged directed + maxHops: per-source truncation independent") {
    val edges = df2(Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 3L)))
    val out = Bfs.taggedHopLevels(edges, df1(Seq(1L, 9L)), maxHops = 2,
        undirected = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // src 1 reaches 2,3 within 2 hops (4 is 3 away); src 9 reaches 3,4
    assert(out === Map(
      (1L, 1L) -> 0, (1L, 2L) -> 1, (1L, 3L) -> 2,
      (9L, 9L) -> 0, (9L, 3L) -> 1, (9L, 4L) -> 2))
  }

  test("checkpointDir mode: same levels, both channels cleaned eagerly") {
    val dir = java.nio.file.Paths.get(Scratch.dir("graft_bfs"))
    try {
      val edges = df2((1L until 12L).map(i => (i, i + 1)))
      val local = toMap(Bfs.hopLevels(edges, df1(Seq(1L)), maxHops = 20))
      val ckpt = Bfs.hopLevels(edges, df1(Seq(1L)), maxHops = 20,
        checkpointDir = Some(dir.toString))
      assert(toMap(ckpt) === local && local.size === 12)
      // r16 shape: each distance-k shell is pinned ONCE (one file per
      // hop, linear total write volume — every row written exactly once)
      // and the visited set is the lazy union of those shells; the old
      // per-round visited-union channel re-wrote all previously visited
      // rows every hop (quadratic writes) to keep ≤3 live files. Pin the
      // new contract: at most hops+2 files (adjacency + source shell +
      // one per expansion round), and never more — a regression back to
      // cumulative per-round unions would blow this up only in BYTES,
      // which the level equality above plus this count bound.
      val ls = java.nio.file.Files.list(dir)
      val runs = try {
        val it = ls.iterator()
        val buf = scala.collection.mutable.Buffer[java.nio.file.Path]()
        while (it.hasNext) buf += it.next()
        buf.toSeq
      } finally ls.close()
      assert(runs.size === 1)
      val inner = java.nio.file.Files.list(runs.head)
      val files = try {
        val it = inner.iterator()
        val buf = scala.collection.mutable.Buffer[String]()
        while (it.hasNext) buf += it.next().getFileName.toString
        buf.toSeq.sorted
      } finally inner.close()
      // 12 nodes on a path from source 1 → 11 expansion rounds + the
      // empty 12th probe: adjacency + 12 shell pins + the final empty
      // shell = 14; anything beyond hops+3 means duplicated shell writes
      assert(files.count(_.startsWith("bfs-")) <= 14,
        s"more shell files than hops survived: $files")
      // the returned DataFrame stays valid off the surviving final file
      assert(ckpt.count() === 12)
    } finally Scratch.drop(dir.toString)
  }
}
