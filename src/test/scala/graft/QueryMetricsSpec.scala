package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.QueryMetrics
import graft.util.Scratch

/** [[QueryMetrics.during]] counts exactly its body's work. */
class QueryMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def action() =
    spark.range(0, 2000, 1, 4).groupBy(col("id") % 7).count().collect()

  test("a repeat of one action counts the same jobs and stages") {
    action() // warm
    val (_, a) = QueryMetrics.during(spark)(action())
    val (_, b) = QueryMetrics.during(spark)(action())
    assert(a.jobs > 0 && (b.jobs, b.stages) === ((a.jobs, a.stages)))
  }

  test("an action run just before the window contributes no job") {
    (1 to 5).foreach(_ => action())
    val (_, c) = QueryMetrics.during(spark)(())
    assert((c.jobs, c.stages, c.tasks) === ((0, 0, 0)))
  }

  test("the per-site breakdown sums to the job count") {
    val (_, c) = QueryMetrics.during(spark) {
      action()
      spark.range(100).filter(col("id") % 3 === 0).count()
    }
    assert(c.jobs >= 2 && c.bySite.map(_._2).sum === c.jobs)
  }

  test("a stateful AvailableNow stream reports its distinct keys as state rows") {
    val s = spark
    import s.implicits._
    val src = Scratch.dir("graft_qm_src")
    (1L to 500L).map(i => (i % 7, i)).toDF("k", "v").write.mode("append").parquet(src)
    // no wait after the stream: the closing drain delivers its progress events
    val (_, c) = QueryMetrics.during(spark) {
      spark.readStream.schema("k LONG, v LONG").parquet(src)
        .groupBy("k").agg(sum("v")).writeStream.format("noop")
        .outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", Scratch.dir("graft_qm_ckpt"))
        .start().awaitTermination()
    }
    assert(c.maxStateRows === 7L && c.maxStateMemBytes > 0L)
  }
}
