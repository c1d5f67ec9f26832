package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Hierarchy
import graft.util.Scratch

/** Hierarchy.explode beyond the q:h1/h2 oracle path: cycle detection, the
  * maxDepth boundary (a tree of depth EXACTLY maxDepth is complete and
  * must pass), unreachable subtrees, multi-parent (DAG) path semantics,
  * and the cluster-checkpoint mode. */
class HierarchySpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def edges(es: Seq[(Long, Long)]) = {
    val s2 = spark
    import s2.implicits._
    es.toDF("child", "parent")
  }

  private def explodeMap(es: Seq[(Long, Long)], maxDepth: Int = 64,
      ckpt: Option[String] = None): Map[Long, (Int, String)] =
    Hierarchy.explode(edges(es), "child", "parent", rootId = 0L,
        maxDepth = maxDepth, checkpointDir = ckpt)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap

  test("paths and depths on a small tree; unreachable subtree excluded") {
    //      0
    //     / \
    //    1   2
    //    |
    //    3        and a disconnected 9→10 edge
    val got = explodeMap(Seq((1L, 0L), (2L, 0L), (3L, 1L), (10L, 9L)))
    assert(got == Map(
      0L -> (0, "0"), 1L -> (1, "0/1"), 2L -> (1, "0/2"), 3L -> (2, "0/1/3")))
  }

  test("a chain of depth EXACTLY maxDepth completes; one deeper fails loudly") {
    val chain = (0L until 5L).map(i => (i + 1, i)) // 0→1→…→5, depth 5
    val got = explodeMap(chain, maxDepth = 5)
    assert(got.size == 6 && got(5L)._1 == 5)
    val e = intercept[RuntimeException](explodeMap(chain, maxDepth = 4))
    assert(e.getMessage.contains("still expanding"))
  }

  test("a cycle fails loudly instead of looping or truncating") {
    // 0→1→2→1 …
    val e = intercept[RuntimeException](
      explodeMap(Seq((1L, 0L), (2L, 1L), (1L, 2L)), maxDepth = 10))
    assert(e.getMessage.contains("cycle"))
  }

  test("DAG (two parents) yields one row per PATH — closure semantics") {
    // 0→{1,2}→3: node 3 is reachable along two paths
    val rows = Hierarchy.explode(
        edges(Seq((1L, 0L), (2L, 0L), (3L, 1L), (3L, 2L))),
        "child", "parent", rootId = 0L)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(rows == Set((0L, "0"), (1L, "0/1"), (2L, "0/2"),
      (3L, "0/1/3"), (3L, "0/2/3")))
  }

  test("cluster-checkpoint mode produces the same closure") {
    val dir = Scratch.dir("graft_hier_ckpt")
    val es = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 3L))
    assert(explodeMap(es, ckpt = Some(dir)) == explodeMap(es))
  }
}
