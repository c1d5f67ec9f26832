package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Clustering
import graft.util.Scratch

/** Connected-components hardening: the parquet-round-trip checkpointDir mode
  * (labels identical to the localCheckpoint path, eager cleanup of
  * superseded label files, per-call subdir isolation) and strict
  * non-convergence failure. */
class ClusteringSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def chain(n: Long) = {
    val s = spark; import s.implicits._
    ((1L until n).map(i => (i, i + 1)).toDF("a", "b"), (1L to n).toDF("node"))
  }

  private def ls(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.list(p)
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
    finally s.close()
  }

  private def withTempDir[A](prefix: String)(f: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Paths.get(Scratch.dir(prefix))
    try f(dir) finally Scratch.drop(dir.toString)
  }

  test("checkpointDir labels are identical to the localCheckpoint labels") {
    withTempDir("graft_cc_eq") { dir =>
      val (edges, nodes) = chain(40)
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val local = toMap(Clustering.connectedComponents(edges, nodes))
      val ckpt = toMap(Clustering.connectedComponents(edges, nodes,
        checkpointDir = Some(dir.toString)))
      assert(ckpt === local)
      assert(ckpt.values.forall(_ == 1L))
    }
  }

  test("checkpointDir mode cleans superseded label files eagerly") {
    withTempDir("graft_cc_clean") { dir =>
      val (edges, nodes) = chain(50)
      val labels = Clustering.connectedComponents(edges, nodes,
        checkpointDir = Some(dir.toString))
      // the returned DataFrame stays valid: backed by the surviving final file
      assert(labels.count() === 50)
      // a 50-chain takes several pointer-jumping rounds, each materializing a
      // stepped AND a jumped label table — yet only the symmetrized-edge file
      // and the FINAL label file may survive under the per-call subdir
      val runs = ls(dir)
      assert(runs.size === 1, s"expected one per-call subdir, got $runs")
      val ccFiles = ls(runs.head)
        .map(_.getFileName.toString).filter(_.startsWith("cc-")).sorted
      assert(ccFiles.size === 2,
        s"expected sym-edges + final labels only, got $ccFiles")
      assert(ccFiles.head === "cc-00000") // the symmetrized edge file
    }
  }

  test("two calls sharing one checkpointDir do not clobber each other") {
    withTempDir("graft_cc_share") { dir =>
      val (e1, n1) = chain(20)
      val first = Clustering.connectedComponents(e1, n1,
        checkpointDir = Some(dir.toString))
      val (e2, n2) = chain(30)
      val second = Clustering.connectedComponents(e2, n2,
        checkpointDir = Some(dir.toString))
      // the FIRST call's returned frame must still be collectible — a fixed
      // cc-%05d naming under the shared dir would have overwritten/deleted
      // the final label file backing it
      assert(first.collect().map(_.getLong(1)).forall(_ == 1L))
      assert(first.count() === 20)
      assert(second.count() === 30)
    }
  }

  test("strict mode throws on maxIters exhaustion instead of partial labels") {
    val (edges, nodes) = chain(200)
    // one round of propagation + one pointer jump cannot collapse a
    // 200-chain — non-strict returns partial labels (with a WARN)
    val partial = Clustering.connectedComponents(edges, nodes, maxIters = 1)
    assert(partial.filter(org.apache.spark.sql.functions
      .col("component") =!= 1L).count() > 0)
    val ex = intercept[IllegalStateException] {
      Clustering.connectedComponents(edges, nodes, maxIters = 1, strict = true)
    }
    assert(ex.getMessage.contains("UNCONVERGED"))
  }
}
