package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dsl._

/** Shared session for all suites (one JVM per `sbt test` fork). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** `body`'s value and the Spark jobs it started. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val (out, c) = graft.tools.QueryMetrics.during(spark)(body)
    (out, c.jobs)
  }
}

class DslSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private lazy val orders = Tables.t(spark, TestSession.sf, "orders").cache()

  test("F1 when: equality filter matches manual filter") {
    val dsl = QueryCompiler.run(orders, Query.allOf().when("o_orderstatus", "F")).count()
    val raw = orders.filter(col("o_orderstatus") === "F").count()
    assert(dsl === raw && dsl > 0)
  }

  test("F2 whenNot is null-safe (matches IS DISTINCT FROM)") {
    val withNulls = orders.withColumn("st", expr("nullif(o_orderstatus,'O')"))
    val n = QueryCompiler.run(withNulls, Query.allOf().whenNot("st", "F")).count()
    val expected = withNulls.filter(!(col("st") <=> "F")).count()
    assert(n === expected)
    // null rows count as "not equal" — they must be included
    assert(n > withNulls.filter(col("st") =!= "F").count())
  }

  test("F3/F6 combination and nesting compile to one predicate") {
    val q = Query.and(
      Query.allOf().withAny("o_orderpriority", Seq("1-URGENT", "2-HIGH")),
      Query.anyOf().rangeAbove("o_totalprice", 200000.0).rangeBelow("o_totalprice", 10000.0))
    val n = QueryCompiler.run(orders, q).count()
    val expected = orders.filter(
      col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        (col("o_totalprice") >= 200000.0 || col("o_totalprice") < 10000.0)).count()
    assert(n === expected)
  }

  test("F6 range open/closed bounds differ by boundary rows") {
    val minQty = 1.0
    val li = Tables.t(spark, TestSession.sf, "lineitem")
    val closed = QueryCompiler.run(li, Query.allOf().rangeAbove("l_quantity", minQty)).count()
    val open = QueryCompiler.run(li,
      Query.allOf().rangeAbove("l_quantity", minQty, inclusive = false)).count()
    val boundary = li.filter(col("l_quantity") === minQty).count()
    assert(closed - open === boundary && boundary > 0)
  }

  test("F8/F9/F10 meta: sort+limit+projection") {
    val out = QueryCompiler.run(orders,
      Query.allOf().orderBy("o_totalprice" -> -1).limit(5).withFields("o_orderkey", "o_totalprice"))
    assert(out.columns.toSeq === Seq("o_orderkey", "o_totalprice"))
    val prices = out.collect().map(_.getDouble(1)).toSeq
    assert(prices === prices.sorted.reverse && prices.size === 5)
  }

  test("U1/U3 set+increment rewrite only matched rows") {
    val pred = QueryCompiler.compile(Query.allOf().when("o_orderstatus", "F"))
    val updated = UpdateCompiler.applyUpdate(orders, pred,
      Update.update().set("o_orderpriority", "0-TOUCHED").increment("o_totalprice", 100))
    val touched = updated.filter(col("o_orderpriority") === "0-TOUCHED").count()
    assert(touched === orders.filter(col("o_orderstatus") === "F").count())
    // untouched rows identical
    val untouchedBefore = orders.filter(col("o_orderstatus") =!= "F")
    val untouchedAfter = updated.filter(col("o_orderstatus") =!= "F")
    assert(untouchedAfter.exceptAll(untouchedBefore).count() === 0)
    // sum increased by exactly 100 * touched
    val before = orders.agg(sum("o_totalprice")).head.getDouble(0)
    val after = updated.agg(sum("o_totalprice")).head.getDouble(0)
    assert(math.abs(after - before - 100.0 * touched) < 1e-6)
  }

  test("U15 nested dot-path set/inc/unset rewrite struct fields in place") {
    val df = orders.limit(20).withColumn("meta",
      struct(lit(1L).as("views"), lit("x").as("tag")))
    val pred = QueryCompiler.compile(Query.allOf().when("o_orderstatus", "F"))
    val updated = UpdateCompiler.applyUpdate(df, pred,
      Update.update().set("meta.tag", "hit").increment("meta.views", 5))
    // no flat "meta.tag" column appeared; the struct itself changed
    assert(updated.columns.toSeq === df.columns.toSeq)
    val hit = updated.filter(col("o_orderstatus") === "F")
    assert(hit.filter(col("meta.tag") =!= "hit").count() === 0)
    assert(hit.filter(col("meta.views") =!= 6L).count() === 0)
    val miss = updated.filter(col("o_orderstatus") =!= "F")
    assert(miss.filter(col("meta.tag") =!= "x" || col("meta.views") =!= 1L).count() === 0)
    // nested unset = typed null in place (schema stays fixed across rows)
    val nulled = UpdateCompiler.applyUpdate(df, pred,
      Update.update().unset("meta.tag"))
    assert(nulled.select("meta.*").columns.toSeq === Seq("views", "tag"))
    assert(nulled.filter(col("o_orderstatus") === "F")
      .filter(col("meta.tag").isNotNull).count() === 0)
    assert(nulled.filter(col("o_orderstatus") =!= "F")
      .filter(col("meta.tag") =!= "x").count() === 0)
  }

  test("$pull nested query may reference an element field named _id") {
    // metadata-field validation applies to TABLE-level resolution only;
    // an array element's own _id field is an ordinary struct field
    val df = orders.limit(5).withColumn("items",
      array(struct(lit("a").as("_id"), lit(1L).as("v")),
        struct(lit(null).cast("string").as("_id"), lit(2L).as("v"))))
    val out = UpdateCompiler.applyUpdate(df, lit(true),
      Update.update().pull("items", Query.allOf().withNotPresent("_id")))
    assert(out.select(size(col("items"))).head().getInt(0) === 1)
  }

  test("U4/U5/U6 array ops: push, addToSet, pullAll") {
    val df = orders.limit(10).withColumn("tags", array(lit("a"), lit("b")))
    val pushed = UpdateCompiler.applyUpdate(df, lit(true),
      Update.update().push("tags", Seq("b", "c")))
    assert(pushed.head.getAs[Seq[String]]("tags") === Seq("a", "b", "b", "c"))
    val added = UpdateCompiler.applyUpdate(df, lit(true),
      Update.update().push("tags", Seq("b", "c"), dedup = true))
    assert(added.head.getAs[Seq[String]]("tags") === Seq("a", "b", "c"))
    val pulled = UpdateCompiler.applyUpdate(pushed, lit(true),
      Update.update().pullAll("tags", Seq("b")))
    assert(pulled.head.getAs[Seq[String]]("tags") === Seq("a", "c"))
  }

  test("U7 pull with element query removes matching elements only") {
    val df = orders.limit(5).withColumn("xs", array(lit(1), lit(5), lit(10), lit(20)))
    val pulled = UpdateCompiler.applyUpdate(df, lit(true),
      Update.update().pull("xs", Query.allOf().rangeAbove("", 10)))
    assert(pulled.head.getAs[Seq[Int]]("xs") === Seq(1, 5))
  }

  test("U18 setMatching ($set + arrayFilters): element-conditional patch") {
    val df = orders.limit(4).withColumn("items", array(
      struct(lit(1).as("ln"), lit(50.0).as("qty"), lit("A").as("rf")),
      struct(lit(2).as("ln"), lit(10.0).as("qty"), lit("B").as("rf"))))
    val out = UpdateCompiler.applyUpdate(df, lit(true),
      Update.update().setMatching("items",
        Query.allOf().rangeAbove("qty", 45.0), "rf", "X"))
    val items = out.head.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("items")
    // element 1 (qty 50) patched; element 2 untouched, ALL fields intact
    assert(items.map(r => (r.getInt(0), r.getDouble(1), r.getString(2))) ===
      Seq((1, 50.0, "X"), (2, 10.0, "B")))
    // a NULL array and a non-matching doc predicate both pass through
    val nulled = df.withColumn("items",
      when(lit(false), col("items")).otherwise(lit(null)))
    val outNull = UpdateCompiler.applyUpdate(nulled, lit(true),
      Update.update().setMatching("items",
        Query.allOf().rangeAbove("qty", 45.0), "rf", "X"))
    assert(outNull.head.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("items") == null)
    val unmatched = UpdateCompiler.applyUpdate(df, lit(false),
      Update.update().setMatching("items",
        Query.allOf().rangeAbove("qty", 45.0), "rf", "X"))
    assert(unmatched.head.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("items")
      .map(_.getString(2)) === Seq("A", "B"))
  }

  test("U8/U11 delete: sentinel and top-k delete") {
    val pred = QueryCompiler.compile(Query.allOf().when("o_orderstatus", "F"))
    val deleted = UpdateCompiler.applyUpdate(orders, pred, Update.update().deleteDoc())
    assert(deleted.filter(col("o_orderstatus") === "F").count() === 0)

    val topk = UpdateCompiler.deleteBySpec(orders,
      Query.allOf().when("o_orderstatus", "F").orderBy("o_totalprice" -> -1).limit(3))
    assert(orders.count() - topk.count() === 3)
    // the 3 highest-priced F orders are the victims
    val maxF = topk.filter(col("o_orderstatus") === "F")
      .agg(max("o_totalprice")).head.getDouble(0)
    val removedMin = orders.filter(col("o_orderstatus") === "F")
      .orderBy(col("o_totalprice").desc).limit(3)
      .agg(min("o_totalprice")).head.getDouble(0)
    assert(maxF <= removedMin)
  }

  test("coerceDates maps LocalDate to UTC midnight regardless of JVM zone") {
    // TimeSlice.toInstant prunes partitions at UTC midnight; the compiled
    // row predicate must agree or pruning silently drops matching rows on
    // non-UTC hosts. Flip the JVM default zone to force the divergence the
    // old atStartOfDay (local-zone) coercion had.
    import graft.dsl._
    val s = spark
    import s.implicits._
    val df = Seq(java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-02T00:00:00Z")))
      .toDF("ts")
    val ld = java.time.LocalDate.of(2024, 1, 2)
    val prev = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(
        java.util.TimeZone.getTimeZone("America/New_York"))
      val q = QueryCompiler.coerceDates(df, SingleQuery(Seq(Eq("ts", ld))))
      val v = q.asInstanceOf[SingleQuery].clauses.head
        .asInstanceOf[Eq].value.asInstanceOf[java.sql.Timestamp]
      assert(v.toInstant == java.time.Instant.parse("2024-01-02T00:00:00Z"))
    } finally java.util.TimeZone.setDefault(prev)
  }

  test("F12 TimeSlice: interval algebra over the query tree") {
    import graft.dsl.TimeSlice
    import java.time.Instant
    val t1 = Instant.parse("2024-01-05T00:00:00Z")
    val t2 = Instant.parse("2024-01-09T00:00:00Z")
    val t3 = Instant.parse("2024-01-20T00:00:00Z")

    // plain range
    assert(TimeSlice.bounds(
      Query.allOf().rangeIn("ts", t1, t2), "ts") === (Some(t1), Some(t2)))
    // AND of clauses intersects (tighter lo wins, tighter hi wins)
    assert(TimeSlice.bounds(
      Query.allOf().rangeAbove("ts", t1).rangeBelow("ts", t3)
        .rangeBelow("ts", t2), "ts") === (Some(t1), Some(t2)))
    // OR of subqueries unions; one unbounded branch unbounds the union
    assert(TimeSlice.bounds(
      Query.or(Query.allOf().rangeIn("ts", t1, t2),
        Query.allOf().rangeIn("ts", t2, t3)), "ts") === (Some(t1), Some(t3)))
    assert(TimeSlice.bounds(
      Query.or(Query.allOf().rangeIn("ts", t1, t2),
        Query.allOf().when("event_type", "click")), "ts") === ((None, None)))
    // clauses on other fields / negations never tighten (soundness)
    assert(TimeSlice.bounds(
      Query.allOf().when("event_type", "click").whenNot("ts", t1), "ts")
      === ((None, None)))
    // equality pins a point; AnyOf spans its min..max
    assert(TimeSlice.bounds(
      Query.allOf().when("ts", t2), "ts") === (Some(t2), Some(t2)))
    assert(TimeSlice.bounds(
      Query.allOf().withAny("ts", Seq(t3, t1)), "ts") === (Some(t1), Some(t3)))
    // polymorphic date input: epoch millis + java.sql.Timestamp normalize
    assert(TimeSlice.bounds(
      Query.allOf().rangeIn("ts", t1.toEpochMilli,
        java.sql.Timestamp.from(t2)), "ts") === (Some(t1), Some(t2)))
    // unconvertible value widens, never throws or mis-prunes
    assert(TimeSlice.bounds(
      Query.allOf().rangeAbove("ts", "not-a-date"), "ts") === ((None, None)))
  }

  test("epoch-millis longs reach the ROW predicate too (schema-directed coercion)") {
    // TimeSlice already read a Long bound as epoch millis for PARTITION
    // pruning; the row predicate must agree, or a pruned read returns
    // empty/throws. coerceDates rewrites Longs on timestamp-typed columns
    // only — a Long on a numeric column stays numeric equality.
    val ev = Tables.t(spark, TestSession.sf, "events")
    val t1 = java.time.Instant.parse("2024-01-05T00:00:00Z")
    val t2 = java.time.Instant.parse("2024-01-09T00:00:00Z")
    val byInstant = QueryCompiler.run(ev,
      Query.allOf().rangeIn("ts", t1, t2)).count()
    val byMillis = QueryCompiler.run(ev,
      Query.allOf().rangeIn("ts", t1.toEpochMilli, t2.toEpochMilli)).count()
    assert(byInstant > 0 && byMillis === byInstant)
    val someUser = ev.select("user_id").head().getLong(0)
    assert(QueryCompiler.run(ev,
        Query.allOf().when("user_id", someUser)).count() ===
      ev.filter(col("user_id") === someUser).count())
  }
}
