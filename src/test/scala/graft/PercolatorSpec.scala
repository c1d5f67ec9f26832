package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dsl.Query
import graft.ops.Percolator
import graft.util.Scratch

/** Percolation semantics: multi-match fan-out, NULL-predicate exclusion
  * (a NULL-valued clause is a non-match, the WHERE-clause rule), no row
  * for non-matching records, and the duplicate-id guard. */
class PercolatorSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def df() = {
    val s = spark; import s.implicits._
    Seq[(Long, String, java.lang.Double)](
      (1L, "purchase", 150.0),
      (2L, "click", 2.0),
      (3L, "view", 50.0),
      (4L, "purchase", null)
    ).toDF("event_id", "event_type", "value")
  }

  private val registry = Seq(
    "q_buy" -> Query.allOf().when("event_type", "purchase"),
    "q_pricey" -> Query.allOf().rangeAbove("value", 100.0),
    "q_cheap_click" -> Query.allOf()
      .when("event_type", "click").rangeBelow("value", 5.0))

  test("multi-match fan-out; non-matching and NULL-valued rows excluded") {
    val out = Percolator.matches(df(), registry, Seq("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set(
      (1L, "q_buy"), (1L, "q_pricey"), // row 1 matches two stored queries
      (2L, "q_cheap_click"),
      (4L, "q_buy"))) // NULL value: q_pricey is a non-match, q_buy still hits
    // row 3 matches nothing -> absent entirely (no null-padded row)
  }

  test("duplicate stored-query ids are rejected at plan time") {
    val dup = registry :+ ("q_buy" -> Query.allOf().when("event_type", "x"))
    val e = intercept[IllegalArgumentException] {
      Percolator.matches(df(), dup, Seq("event_id"))
    }
    assert(e.getMessage.contains("q_buy"))
  }

  test("idCols clashing with query_id or duplicated are rejected at plan time") {
    val e = intercept[IllegalArgumentException] {
      Percolator.matches(df(), registry, Seq("event_id", "query_id"))
    }
    assert(e.getMessage.contains("query_id"))
    val e2 = intercept[IllegalArgumentException] {
      Percolator.matches(df(), registry, Seq("event_id", "event_id"))
    }
    assert(e2.getMessage.contains("event_id"))
  }

  test("large registries stay single-pass codegen'd; unionShards shards (>=512)") {
    val s = spark; import s.implicits._
    val types = Seq("purchase", "click", "view", "error")
    val data = (1L to 400L).map(i => (i, types((i % 4).toInt), (i % 97).toDouble))
    val big = data.toDF("event_id", "event_type", "value")
    val n = 600
    def qid(i: Int) = f"q_$i%04d"
    val reg = (0 until n).map { i =>
      val lo = (i % 90).toDouble
      qid(i) -> Query.allOf().when("event_type", types(i % 4))
        .rangeIn("value", lo, lo + 7.0)
    }
    // ground truth replayed row-by-row on the driver
    val expected = (for {
      (id, t, v) <- data; i <- 0 until n; lo = (i % 90).toDouble
      if t == types(i % 4) && v >= lo && v < lo + 7.0
    } yield (id, qid(i))).toSet
    // janino failure must THROW here, not silently drop to interpreted
    // projection — this is the assert that the fused stage stays codegen'd
    val prev = s.conf.get("spark.sql.codegen.fallback", "true")
    s.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // DEFAULT single-pass: 600 queries in 128-query groups plan as the
      // custom PercolateExec — ONE scan (no Union anywhere), each shard
      // its own row-based codegen'd projection (fallback=false would make
      // a janino failure throw at execution)
      val out = Percolator.matches(big, reg, Seq("event_id"),
        maxPerProjection = 128)
      assert(out.queryExecution.optimizedPlan.collectFirst {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }.isEmpty)
      val percs = out.queryExecution.executedPlan.collect {
        case p: graft.plans.PercolateExec => p
      }
      assert(percs.size == 1 && percs.head.shards.size == 5)
      val got = out.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === expected)
      // legacy unionShards: 600 queries at 128/shard -> 5 fused
      // projections flattened to one Union, each shard its own stage
      val uni = Percolator.matches(big, reg, Seq("event_id"),
        maxPerProjection = 128, unionShards = true)
      val u = uni.queryExecution.optimizedPlan.collectFirst {
        case un: org.apache.spark.sql.catalyst.plans.logical.Union => un
      }
      assert(u.isDefined && u.get.children.size == 5)
      assert(uni.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.size == 5)
      val gotU = uni.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(gotU === expected)
    } finally s.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("meta riders (limit/orderBy/projection) are rejected at plan time") {
    val withLimit = registry :+
      ("q_capped" -> Query.allOf().when("event_type", "error").limit(10))
    val e = intercept[IllegalArgumentException] {
      Percolator.matches(df(), withLimit, Seq("event_id"))
    }
    // a limit would need global state to honor; silently ignoring it
    // would under-deliver alerts — the guard must name the offender
    assert(e.getMessage.contains("q_capped"))
    // ...including one buried inside a MultiQuery component, which the
    // compiler would otherwise silently discard
    val nested = registry :+ ("q_nested" -> Query.or(
      Query.allOf().when("event_type", "error").limit(10),
      Query.allOf().when("event_type", "view")))
    val e2 = intercept[IllegalArgumentException] {
      Percolator.matches(df(), nested, Seq("event_id"))
    }
    assert(e2.getMessage.contains("q_nested"))
  }
  test("custom-node registries (>256) percolate under Structured Streaming") {
    // the PercolateExec claim "drops into streaming unchanged": a 300-query
    // registry (past maxPerProjection -> the custom plan node) over a file
    // stream must equal the batch percolation of the same rows —
    // IncrementalExecution picks up injected planner strategies too
    val s = spark; import s.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val types = Seq("purchase", "click", "view", "error")
    val n = 300
    val reg = (0 until n).map { i =>
      val lo = (i % 90).toDouble
      f"q_$i%04d" -> Query.allOf().when("event_type", types(i % 4))
        .rangeIn("value", lo, lo + 7.0)
    }
    val data = (1L to 400L).map(i => (i, types((i % 4).toInt), (i % 97).toDouble))
    val src = Scratch.dir("graft_perc_src")
    val out = Scratch.dir("graft_perc_out")
    val ckpt = Scratch.dir("graft_perc_ck")
    data.toDF("event_id", "event_type", "value").write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema("event_id LONG, event_type STRING, value DOUBLE").parquet(src)
    val q = Percolator.matches(stream, reg, Seq("event_id"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = Percolator.matches(
        data.toDF("event_id", "event_type", "value"), reg, Seq("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed === batch && batch.nonEmpty)
  }

  test("registryFromTable: persisted QueryJson rows load, compile, and match") {
    val s = spark; import s.implicits._
    val wire = registry.map { case (id, q) =>
      (id, graft.dsl.QueryJson.stringify(q)) }
    val table = wire.toDF("query_id", "query_json")
    val loaded = Percolator.registryFromTable(table)
    val direct = Percolator.matches(df(), registry, Seq("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaTable = Percolator.matches(df(), loaded, Seq("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaTable === direct)
    // a malformed persisted row fails loudly WITH its id
    val broken = (wire :+ ("q_bad", """{"op":"xor","components":[]}"""))
      .toDF("query_id", "query_json")
    val e = intercept[IllegalArgumentException] {
      Percolator.registryFromTable(broken)
    }
    assert(e.getMessage.contains("q_bad"))
  }
}
