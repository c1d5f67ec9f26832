package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Bucket
import graft.ops.MultiWriter
import graft.store.BucketStore
import graft.util.Scratch

/** S11 multi-writer fan-out: the primary is written once, every secondary
  * target and sink receives exactly the primary's rows, and the upstream
  * plan runs once however many targets there are. */
class MultiWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def rows(df: DataFrame): Seq[String] =
    df.select("r_regionkey", "r_name").collect()
      .map(r => s"${r.getLong(0)}|${r.getString(1)}").toSeq.sorted

  test("emitAll: primary written once, secondaries and sinks see exactly " +
      "its rows, the upstream plan executes once") {
    val store = new BucketStore(spark,
      Scratch.dir("graft_multiwriter"))
    // every upstream row evaluation bumps the accumulator: a second
    // execution of the plan (per target) would double it
    val evaluated = spark.sparkContext.longAccumulator("upstream_rows")
    val tap = udf { (k: Long) => evaluated.add(1); k }.asNondeterministic()
    val region = Tables.t(spark, TestSession.sf, "region")
    val upstream = region.select(
      tap(col("r_regionkey").cast("long")).as("r_regionkey"), col("r_name"))
    val want = rows(region.select(col("r_regionkey").cast("long")
      .as("r_regionkey"), col("r_name")))
    assert(want.nonEmpty)
    val primary = Bucket("/test/mw/primary")
    val secondaries = Seq(Bucket("/test/mw/a") -> "processed",
      Bucket("/test/mw/b") -> "archive")
    val seen = Seq.fill(2)(
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]())
    MultiWriter.emitAll(store, upstream, primary -> "processed",
      secondaries, seen.map(q => (df: DataFrame) => { q.add(rows(df)); () }))
    assert(rows(store.read(primary, "processed")) === want,
      "primary not written exactly once")
    for ((b, stage) <- secondaries)
      assert(rows(store.read(b, stage)) === want,
        s"secondary ${b.fullName}/$stage")
    seen.foreach { q =>
      assert(q.size === 1, "a sink was not called exactly once")
      assert(q.peek() === want)
    }
    assert(evaluated.value === want.size.toLong,
      s"upstream evaluated ${evaluated.value} rows for ${want.size}")
  }
}
