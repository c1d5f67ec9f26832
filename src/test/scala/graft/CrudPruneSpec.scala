package graft

import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.crud.CrudService
import graft.dsl.{Query, QueryCompiler, QueryComponent}
import graft.model._
import graft.store.BucketStore
import graft.util.Scratch

/** Time-bounded CRUD reads scan only the partitions they can match, and
  * the pruning changes no answer: for each query, every spec read path's
  * executed scan carries a `p_time` partition filter, and its rows or
  * count equal those of the unpruned `QueryCompiler.run(store.read(b), q)`.
  * The data holds 10 days of hourly rows plus rows with a null `ts`, which
  * land in the `__unknown__` partition. */
class CrudPruneSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSession.spark

  private val T0 = Instant.parse("2024-03-01T00:00:00Z")
  private def at(hours: Long): Instant = T0.plusSeconds(hours * 3600L)

  private val bucket = Bucket("/test/crud_prune", DataSchema(
    temporal = Some(TemporalSchema("ts", GroupingPeriod.Daily))))

  private lazy val (store, crud) = {
    val s = new BucketStore(spark, Scratch.dir("graft_crud_prune"))
    val schema = StructType(Seq(StructField("_id", StringType),
      StructField("ts", TimestampType), StructField("kind", StringType),
      StructField("n", LongType)))
    val timed = (0L until 240L).map(h =>
      Row(s"r$h", Timestamp.from(at(h)), s"k${h % 3}", h))
    val untimed = (0L until 10L).map(i => Row(s"u$i", null, s"k${i % 3}", -i))
    s.write(bucket, spark.createDataFrame(
      java.util.Arrays.asList(timed ++ untimed: _*), schema))
    (s, new CrudService(s, bucket))
  }

  /** The scans of every action `body` runs, as the executed plans hold
    * them. Query-execution events arrive on the listener bus, so the bus is
    * drained on both sides of `body`. */
  private def scansOf[A](body: => A): (A, Seq[FileSourceScanExec]) = {
    val plans = mutable.ArrayBuffer.empty[FileSourceScanExec]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized {
          plans ++= collect(qe.executedPlan) { case s: FileSourceScanExec => s }
        }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    // drain first: an earlier action's event still queued would otherwise
    // reach the listener registered here
    ListenerBridge.waitUntilEmpty(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      ListenerBridge.waitUntilEmpty(spark.sparkContext)
      (out, plans.synchronized(plans.toList))
    } finally spark.listenerManager.unregister(listener)
  }

  private def assertPruned(what: String, scans: Seq[FileSourceScanExec]): Unit = {
    assert(scans.nonEmpty, s"$what ran no file scan")
    scans.foreach(s => assert(
      s.partitionFilters.exists(_.references.exists(_.name == BucketStore.PartitionCol)),
      s"$what scanned without a p_time partition filter:\n$s"))
  }

  private def unpruned(q: QueryComponent): DataFrame =
    QueryCompiler.run(store.read(bucket), q)

  /** Every spec read path on `q` (a query with no limit) and on its sorted,
    * limited form `top`, against the unpruned evaluation. */
  private def checkQuery(q: QueryComponent, top: QueryComponent): Unit = {
    val want = unpruned(q).collect().toSet
    val total = store.read(bucket).count()
    assert(want.nonEmpty && want.size < total, s"vacuous query $q")

    val (got, s1) = scansOf(crud.getObjectsBySpec(q).collect().toSet)
    assert(got === want)
    assertPruned("getObjectsBySpec", s1)

    val (gotTop, s2) = scansOf(crud.getObjectsBySpec(top).collect().toSeq)
    assert(gotTop === unpruned(top).collect().toSeq)
    assertPruned("getObjectsBySpec (sorted, limited)", s2)

    val (one, s3) = scansOf(crud.getObjectBySpec(top))
    assert(one === unpruned(top).head(1).headOption)
    assertPruned("getObjectBySpec", s3)
    val (any, _) = scansOf(crud.getObjectBySpec(q))
    assert(any.exists(want.contains))

    val (n, s4) = scansOf(crud.countObjectsBySpec(q))
    assert(n === want.size.toLong)
    assertPruned("countObjectsBySpec", s4)
  }

  private def sorted(q: QueryComponent): QueryComponent = q match {
    case s: graft.dsl.SingleQuery => s.orderBy(("ts", -1), ("_id", 1)).limit(7)
    case m: graft.dsl.MultiQuery => m.orderBy(("ts", -1), ("_id", 1)).limit(7)
  }

  test("epoch-millis bounds: coerced for the rows, sliced for the partitions") {
    val q = Query.allOf().rangeIn("ts", at(50).toEpochMilli, at(110).toEpochMilli)
    checkQuery(q, sorted(q))
  }

  test("a lo-only bound keeps __unknown__ in the scan; its null-ts rows stay out") {
    val q = Query.allOf().rangeAbove("ts", at(200).toEpochMilli).when("kind", "k1")
    checkQuery(q, sorted(q))
    assert(unpruned(q).filter("ts is null").count() === 0L)
    assert(store.read(bucket).filter("ts is null").count() === 10L)
  }

  test("an OR of two time ranges prunes to their union") {
    val q = Query.or(
      Query.allOf().rangeIn("ts", at(10), at(30)),
      Query.allOf().rangeIn("ts", Timestamp.from(at(170)), Timestamp.from(at(190)))
        .when("kind", "k2"))
    checkQuery(q, sorted(q))
  }
}
