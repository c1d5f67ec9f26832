package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Bucket
import graft.sql.SqlSurface
import graft.store.BucketStore
import graft.util.Scratch

/** X5 EXECUTED: a real python interpreter runs a real PySpark job against a
  * bucket this session wrote, through the manifest half of the catalog
  * bridge, and the Scala side verifies the emitted result — upgrading X5
  * from a documented analog to an executed proof of the reference's
  * `aleph2_driver.py:1-32` contract (getRddInput by name / emitRdd).
  * Cancels (not fails) when python3+pyspark aren't installed — the bridge
  * code itself is exercised either way via the manifest/catalog asserts. */
class PySparkBridgeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private val python = sys.env.getOrElse("GRAFT_PYTHON", "python3")

  test("a separate PySpark process reads a bucket by signature and emits a verified result") {
    val dir = Paths.get(Scratch.dir("graft_pybridge"))
    val store = new BucketStore(spark, dir.toString)
    val bucket = Bucket("/test/py_bridge")
    val data = spark.range(1000)
      .select(col("id").as("v"), (col("id") % 7).as("k"))
    store.write(bucket, data)

    // in-session catalog half (the original X5 analog): the signature
    // resolves as a table for a PySpark REPL sharing this session
    SqlSurface.exposeBuckets(store, Seq(bucket))
    assert(spark.table(bucket.signature).count() === 1000)

    // cross-process half: manifest → python resolves the same signature
    val manifest = dir.resolve("manifest.json")
    SqlSurface.writePythonManifest(store, Seq(bucket), manifest)
    val outDir = dir.resolve("py_out").toString
    val script = dir.resolve("user_script.py")
    Files.write(script,
      s"""import sys
         |from graft_pyspark_driver import GraftContext
         |
         |ctx = GraftContext.from_argv(sys.argv)
         |df = ctx.input("${bucket.signature}")
         |out = (df.filter((df.v % 2) == 0)
         |         .groupBy("k").count()
         |         .withColumnRenamed("count", "n_even"))
         |ctx.emit(out)
         |ctx.stop()
         |""".stripMargin.getBytes("UTF-8"))

    import scala.sys.process._
    val pyOk =
      try Seq(python, "-c", "import pyspark").! == 0
      catch { case _: Exception => false }
    assume(pyOk, s"$python with pyspark not available; manifest half asserted above")

    val log = new StringBuilder
    val logger = ProcessLogger(l => log.append(l).append('\n'),
      l => log.append(l).append('\n'))
    // `timeout` guards the suite against a wedged interpreter; the driver
    // module resolves via PYTHONPATH from the repo's tools/ dir
    val toolsDir = Paths.get("tools").toAbsolutePath.toString
    val exit = Process(
      Seq("timeout", "300", python, script.toString, manifest.toString, outDir),
      None, "PYTHONPATH" -> toolsDir).!(logger)
    assert(exit === 0, s"python bridge process failed:\n$log")

    val got = spark.read.parquet(outDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = data.filter(col("v") % 2 === 0).groupBy("k")
      .agg(count(lit(1)).as("n_even"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(got.size === 7)
  }
}
