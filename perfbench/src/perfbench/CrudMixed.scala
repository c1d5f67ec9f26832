package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.crud.CrudService
import graft.dsl.{Query, QueryCompiler, QueryComponent, Update}
import graft.model.{Bucket, DataSchema, GroupingPeriod, TemporalSchema}
import graft.store.BucketStore

/** One document of the CRUD model; `bytes` is its logical size. */
final case class Ev(eventId: Long, ts: Long, user: Long, kind: String,
    value: Double, props: String) {
  def bytes: Long = 32L + kind.length + props.length + eventId.toString.length
}

/** CRUD traffic against a daily time-partitioned bucket seeded with 100k
  * `events` rows (`_id` = `event_id`). About 85 % of operations read and
  * 15 % write, all on the `dsl` → `crud` → `store` path. Every reply is
  * checked against an in-memory model of every acknowledged write. */
final class CrudMixed(spark: SparkSession, seed: Long, work: Path)
    extends Workload(spark, seed, work) {
  def cycle = 20

  val Rows = 100000L
  private val bucket = Bucket("/bench/events",
    DataSchema(temporal = Some(TemporalSchema("ts", GroupingPeriod.Daily))))
  private var store: BucketStore = _
  private var crud: CrudService = _
  private var schemaDf: DataFrame = _

  private val model = mutable.HashMap.empty[String, Ev]
  private val live = mutable.ArrayBuffer.empty[String]
  private val slot = mutable.HashMap.empty[String, Int]
  private var nextId = 0L
  private val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)

  private val Cols = Seq("_id", "event_id", "ts", "user_id", "event_type", "value", "props")
  private val RowSchema = StructType(Seq(
    StructField("_id", StringType), StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  // per-kind counters for the per-layer ratios (traced operations only)
  private val rowsReturned = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  private val userBytes = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)

  private def put(id: String, e: Ev): Unit = {
    if (!model.contains(id)) { slot(id) = live.size; live += id }
    model(id) = e
  }
  private def remove(id: String): Unit = if (model.remove(id).isDefined) {
    val i = slot.remove(id).get
    val last = live.remove(live.size - 1)
    if (last != id) { live(i) = last; slot(last) = i }
  }

  def setup(): Unit = {
    val root = freshDir("crud_store")
    store = new BucketStore(spark, root.toString)
    crud = new CrudService(store, bucket)
    model.clear(); live.clear(); slot.clear()
    val events = Data.events(spark, seed, Rows)
      .withColumn("_id", col("event_id").cast("string")).select(Cols.map(col): _*)
    events.collect().foreach { r =>
      put(r.getString(0), Ev(r.getLong(1), micros(r.getTimestamp(2)), r.getLong(3),
        r.getString(4), r.getDouble(5), r.getString(6)))
    }
    crud.storeObjects(events)
    schemaDf = spark.createDataFrame(java.util.List.of[Row](), store.read(bucket).schema)
    nextId = 10000000L
  }

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000
  private def stamp(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  private def pickLive(): String = live(rng.nextInt(live.size))
  private def pickType(): String = Data.EventTypes(rng.nextInt(5))
  private def money(): Double = math.round(rng.nextDouble() * 20000) / 100.0

  // ---- operation mix -------------------------------------------------------
  // per cycle of 20: 17 reads (85 %) and 3 writes (15 %), shuffled per
  // cycle by the seed, so every run sees the same mix
  private val Mix = Seq("get_by_id" -> 4, "multi_get" -> 3, "query" -> 3,
    "count" -> 3, "time_range" -> 4, "upsert" -> 1, "update" -> 1, "delete" -> 1)
  private val Reads = Set("get_by_id", "multi_get", "query", "count", "time_range")
  private val pending = mutable.ArrayBuffer.empty[String]
  private def nextKind(): String = {
    if (pending.isEmpty) {
      val c = mutable.ArrayBuffer.from(Mix.flatMap { case (k, n) => Seq.fill(n)(k) })
      for (j <- c.indices.reverse) { val r = rng.nextInt(j + 1); val t = c(j); c(j) = c(r); c(r) = t }
      pending ++= c
    }
    pending.remove(0)
  }

  override def warmup(): Unit = Reads.toSeq.sorted.foreach(issue(_, -1))

  def step(i: Int): Unit = issue(nextKind(), i)

  private def issue(kind: String, i: Int): Unit = {
    val cls = if (Reads(kind)) 'r' else 'w'
    kind match {
      case "get_by_id" =>
        val id = pickLive()
        var got: Option[Row] = None
        timedOp(kind, i, cls) {
          got = Trace.call("crud", kind)(crud.getObjectById(id))
          rowsReturned(i) = got.size
        }
        val e = model(id)
        expect(got.exists(r => r.getAs[Double]("value") == e.value &&
          r.getAs[String]("props") == e.props), s"get_by_id($id) returned $got, model $e")

      case "multi_get" =>
        val ids = Seq.fill(50)(pickLive()).distinct
        var got: Array[Row] = Array.empty
        timedOp(kind, i, cls) {
          got = Trace.call("crud", kind)(crud.getObjectsByIds(ids).select("_id", "value").collect())
          rowsReturned(i) = got.length
        }
        expect(got.map(r => r.getString(0) -> r.getDouble(1)).toMap ==
          ids.map(id => id -> model(id).value).toMap, s"multi_get of ${ids.size} ids")

      case "query" =>
        val t = pickType(); val lo = math.floor(rng.nextDouble() * 100)
        val q = Query.allOf().when("event_type", t).rangeIn("value", lo, lo + 5.0)
          .orderBy(("value", -1), ("_id", 1)).limit(20)
        val want = model.iterator.filter { case (_, e) =>
          e.kind == t && e.value >= lo && e.value < lo + 5.0
        }.toSeq.sortBy { case (id, e) => (-e.value, id) }.take(20).map(_._1)
        expect(readSpec(kind, i, q) == want, s"query($t, $lo) differs from model")

      case "count" =>
        val t = pickType(); val a = rng.nextInt(Data.Users - 50).toLong
        val q = Query.allOf().when("event_type", t).rangeIn("user_id", a, a + 50)
        var n = -1L
        timedOp(kind, i, cls) {
          compile(q)
          n = Trace.call("crud", kind)(crud.countObjectsBySpec(q))
          rowsReturned(i) = 1
        }
        val want = model.valuesIterator.count(e => e.kind == t && e.user >= a && e.user < a + 50)
        expect(n == want, s"count($t, $a) = $n, model $want")

      case "time_range" =>
        // favour the latest days, as dashboards do
        val day = Data.Days - 1 - math.min(Data.Days - 1,
          math.floor(-math.log(1 - rng.nextDouble()) * 4).toInt)
        val lo = Data.BaseMicros + day * Data.DayMicros + rng.nextInt(4) * Data.DayMicros / 4
        val hi = lo + Data.DayMicros / 4
        val q = Query.allOf().rangeIn("ts", lo / 1000, hi / 1000)
          .orderBy(("ts", -1), ("_id", 1)).limit(100)
        val want = model.iterator.filter { case (_, e) => e.ts >= lo && e.ts < hi }
          .toSeq.sortBy { case (id, e) => (-e.ts, id) }.take(100).map(_._1)
        expect(readSpec(kind, i, q) == want, s"time_range(day $day) differs from model")

      case "upsert" =>
        val existing = Seq.fill(150)(pickLive()).distinct
        val fresh = Seq.fill(50) { nextId += 1; nextId }
        val rows = existing.map(id => model(id).copy(value = money(),
            props = s"""{"k": ${rng.nextInt(100)}, "u": 1}""") -> id) ++
          fresh.map(n => Ev(n, Data.BaseMicros + rng.nextLong(Data.Days * Data.DayMicros),
            rng.nextInt(Data.Users).toLong, pickType(), money(), """{"k": 0}""") -> n.toString)
        val df = spark.createDataFrame(java.util.Arrays.asList(rows.map { case (e, id) =>
          Row(id, e.eventId, stamp(e.ts), e.user, e.kind, e.value, e.props)
        }: _*), RowSchema)
        val ok = timedOp(kind, i, cls) {
          Trace.call("crud", kind)(crud.storeObjects(df, replacePresent = true))
          userBytes(i) = rows.map(_._1.bytes).sum
        }
        if (ok) rows.foreach { case (e, id) => put(id, e) }

      case "update" =>
        val u = rng.nextInt(Data.Users).toLong; val t = pickType()
        val v = money(); val p = s"""{"k": ${rng.nextInt(100)}, "u": 2}"""
        val q = Query.allOf().when("user_id", u).when("event_type", t)
        val hits = model.filter { case (_, e) => e.user == u && e.kind == t }.keys.toSeq
        var n = -1L
        val ok = timedOp(kind, i, cls) {
          compile(q)
          n = Trace.call("crud", kind)(
            crud.updateObjectsBySpec(q, Update.update().set("value", v).set("props", p)))
          userBytes(i) = hits.map(id => model(id).bytes).sum
        }
        if (ok) {
          expect(n == hits.size, s"update($u, $t) matched $n, model ${hits.size}")
          hits.foreach(id => put(id, model(id).copy(value = v, props = p)))
        }

      case "delete" =>
        val u = rng.nextInt(Data.Users).toLong; val t = pickType()
        val q = Query.allOf().when("user_id", u).when("event_type", t)
        val hits = model.filter { case (_, e) => e.user == u && e.kind == t }.keys.toSeq
        var n = -1L
        val ok = timedOp(kind, i, cls) {
          compile(q)
          n = Trace.call("crud", kind)(crud.deleteObjectsBySpec(q))
          userBytes(i) = hits.map(id => model(id).bytes).sum
        }
        if (ok) {
          expect(n == hits.size, s"delete($u, $t) removed $n, model ${hits.size}")
          hits.foreach(remove)
        }
    }
  }

  /** The DSL's own work for a query, timed in the traced run only: the
    * compile is pure and takes microseconds, so it is measured by repeating
    * it rather than by intercepting the CRUD service's internal call. */
  private def compile(q: QueryComponent): Unit =
    Trace.call("dsl", "compile")(QueryCompiler.compile(QueryCompiler.coerceDates(schemaDf, q)))

  /** A spec read: the CRUD call returns a lazy frame, the physical plan is
    * forced on its own (`dsl.plan`), then the rows are fetched. */
  private def readSpec(kind: String, i: Int, q: QueryComponent): Seq[String] = {
    var got: Seq[String] = Nil
    timedOp(kind, i, 'r') {
      compile(q)
      got = Trace.call("crud", kind) {
        val df = crud.getObjectsBySpec(q)
        Trace.call("dsl", "plan")(df.queryExecution.executedPlan)
        df.select("_id").collect().map(_.getString(0)).toSeq
      }
      rowsReturned(i) = got.size
    }
    got
  }

  def check(): Unit = {
    val rows = store.read(bucket).select("_id", "value", "props").collect()
    val got = rows.map(r => r.getString(0) -> (r.getDouble(1), r.getString(2))).toMap
    val diff = model.count { case (id, e) => !got.get(id).contains((e.value, e.props)) }
    expect(rows.length == model.size && got.size == model.size && diff == 0,
      s"final bucket holds ${rows.length} rows (${got.size} ids), model ${model.size}; " +
        s"$diff model rows differ")
  }

  private def stageBytes: Long = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(java.nio.file.Paths.get(store.stagePath(bucket)))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    finally s.close()
  }

  def layerExtras(spans: Seq[Span], w: JobListener): Map[String, Double] = {
    val crudSpans = spans.filter(_.layer == "crud")
    def med(name: String) = Stats.median(crudSpans.filter(_.name == name).map(_.wall))
    def jobsPer(names: Set[String]) = {
      val ss = crudSpans.filter(s => names(s.name))
      if (ss.isEmpty) 0.0 else ss.map(s => w.work.get(s.id).map(_.jobs).getOrElse(0)).sum.toDouble / ss.size
    }
    val readSpans = crudSpans.filter(s => Reads(s.name))
    val scanned = readSpans.map(s => w.work.get(s.id).map(_.inputRecords).getOrElse(0L)).sum
    val returned = readSpans.map(s => rowsReturned(s.op)).sum
    val writeSpans = crudSpans.filterNot(s => Reads(s.name))
    val written = writeSpans.map(s => w.work.get(s.id).map(_.outputBytes).getOrElse(0L)).sum
    val user = writeSpans.map(s => userBytes(s.op)).sum
    val files = Trace.op("stats", -3, traced = true)(
      Trace.call("store", "file_count")(store.parquetFileCount(bucket, "processed")))
    val liveUser = model.valuesIterator.map(_.bytes).sum
    def dsl(name: String) = Stats.median(spans.filter(s => s.layer == "dsl" && s.name == name).map(_.wall))
    Mix.map { case (k, _) => s"crud.${k}_ms" -> med(k) }.toMap ++ Map(
      "dsl.compile_us" -> dsl("compile") * 1000,
      "dsl.plan_ms" -> dsl("plan"),
      "crud.jobs_per_read" -> jobsPer(Reads),
      "crud.jobs_per_write" -> jobsPer(Mix.map(_._1).toSet -- Reads),
      "crud.rows_scanned_per_row_returned" -> (if (returned == 0) 0.0 else scanned.toDouble / returned),
      "store.bytes_written_per_user_byte" -> (if (user == 0) 0.0 else written.toDouble / user),
      "store.live_bytes_per_user_byte" -> stageBytes.toDouble / liveUser,
      "store.files_per_stage" -> files.toDouble)
  }
}
