package graft.model

import org.apache.spark.sql.types._

/** Bucket = named dataset + schema bundle — the engine's unit of data
  * management, mirroring the reference's `DataBucketBean.data_schema()`
  * consumed at e.g. `ElasticsearchIndexUtils.java:87-95` (bucket→index name),
  * `ElasticsearchHiveUtils.java:100-140` (warehouse schema),
  * `HfdsDataWriteService.java:265-272` (storage schema).
  *
  * Physical layout (see [[graft.store.BucketStore]]): one directory root per
  * bucket holding `raw/ json/ processed/` stage dirs, each with a `current`
  * and optional named secondary buffers (ping-pong promote), resolved
  * through the stage's `_ROLES` file.
  */
final case class Bucket(
    fullName: String, // e.g. "/test/events" — slash-path like the reference
    dataSchema: DataSchema = DataSchema()) {
  /** Stable table-ish signature: the analog of the reference's
    * `getBaseIndexName` (slashes → underscores, lowercase). */
  def signature: String =
    fullName.stripPrefix("/").replaceAll("[/\\s]+", "_").toLowerCase
}

final case class DataSchema(
    temporal: Option[TemporalSchema] = None,
    columnar: Option[ColumnarSchema] = None,
    document: Option[DocumentSchema] = None,
    storage: Option[StorageSchema] = None,
    searchIndex: Option[SearchIndexSchema] = None,
    dataWarehouse: Option[WarehouseSchema] = None)

/** Time-slicing config (`temporal_schema`): drives the partition column the
  * store derives at write time — the Spark-native replacement for the
  * reference's time-sliced index/dir routing
  * (`ElasticsearchContextUtils.java:50-132`, grouping periods;
  * `HfdsDataWriteService.java:509-525`, per-record time extraction). */
final case class TemporalSchema(
    timeField: String,
    groupingPeriod: GroupingPeriod = GroupingPeriod.Daily)

/** Partition value = UTC-truncated string; lexicographic order == time
  * order, so range predicates prune partitions. Weekly has no valid
  * `date_format` pattern in Spark 3+ (week-based fields are rejected), so it
  * truncates to the week-start date instead. */
sealed abstract class GroupingPeriod(val name: String) {
  /** Partition-value expression for a timestamp column. */
  def partitionValue(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column
  /** The same truncation applied driver-side (retention cutoffs). */
  def truncate(i: java.time.Instant): String
}
object GroupingPeriod {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{date_format, date_trunc}
  import java.time.{Instant, ZoneOffset}
  import java.time.format.DateTimeFormatter

  private def fmt(p: String): DateTimeFormatter =
    DateTimeFormatter.ofPattern(p).withZone(ZoneOffset.UTC)

  private final class Formatted(name: String, pattern: String, trunc: String)
      extends GroupingPeriod(name) {
    def partitionValue(ts: Column): Column = date_format(date_trunc(trunc, ts), pattern)
    def truncate(i: Instant): String = fmt(pattern).format(i)
  }

  val Hourly: GroupingPeriod = new Formatted("hourly", "yyyy-MM-dd-HH", "hour")
  val Daily: GroupingPeriod = new Formatted("daily", "yyyy-MM-dd", "day")
  val Monthly: GroupingPeriod = new Formatted("monthly", "yyyy-MM", "month")
  val Yearly: GroupingPeriod = new Formatted("yearly", "yyyy", "year")
  /** week partition = Monday-start week date, e.g. "2024-01-01". */
  val Weekly: GroupingPeriod = new GroupingPeriod("weekly") {
    def partitionValue(ts: Column): Column =
      date_format(date_trunc("week", ts), "yyyy-MM-dd")
    def truncate(i: Instant): String = {
      val d = i.atZone(ZoneOffset.UTC).toLocalDate
      fmt("yyyy-MM-dd").format(
        d.minusDays((d.getDayOfWeek.getValue - 1).toLong).atStartOfDay(ZoneOffset.UTC))
    }
  }
  val all: Seq[GroupingPeriod] = Seq(Hourly, Daily, Weekly, Monthly, Yearly)
  def of(name: String): GroupingPeriod =
    all.find(_.name == name).getOrElse(Daily)
}

/** Columnar schema (`columnar_schema`): in the reference this generated ES
  * doc_values per field (`ElasticsearchIndexUtils.java:416-437,639-720`);
  * over Parquet, storage is already columnar, so the include/exclude lists
  * become a column selection/stats policy applied on write. */
final case class ColumnarSchema(
    fieldIncludeList: Seq[String] = Nil,
    fieldExcludeList: Seq[String] = Nil,
    fieldIncludePatternList: Seq[String] = Nil,
    fieldExcludePatternList: Seq[String] = Nil) {

  private def matches(pats: Seq[String], c: String): Boolean = pats.exists { p =>
    if (p.contains("*"))
      // glob: '*' is the only wildcard; everything else is literal
      c.matches(p.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*"))
    else p == c
  }

  /** Resolve the policy against actual column names: keep a column iff it
    * matches an include (name list or glob; NO includes declared = all) and
    * no exclude. Same precedence as the reference's per-field doc_values
    * decision (`ElasticsearchIndexUtils.java:416-437`): excludes win. */
  def resolve(all: Seq[String]): Seq[String] = {
    val noIncludes = fieldIncludeList.isEmpty && fieldIncludePatternList.isEmpty
    all.filter { c =>
      (noIncludes || matches(fieldIncludeList, c) || matches(fieldIncludePatternList, c)) &&
        !matches(fieldExcludeList, c) && !matches(fieldExcludePatternList, c)
    }
  }
}

/** Document schema: dedup fields + policy (D1-D3). */
final case class DocumentSchema(
    deduplicationFields: Seq[String] = Nil,
    deduplicationPolicy: DedupPolicy = DedupPolicy.KeepFirst)

sealed trait DedupPolicy
object DedupPolicy {
  /** winner = first by deterministic order (reference SimpleGraphMergeService
    * keep-first behavior) */
  case object KeepFirst extends DedupPolicy
  case object KeepLast extends DedupPolicy
  /** custom merge of the candidate group — X3 merge-module seam */
  final case class Custom(merge: (Seq[org.apache.spark.sql.Row]) => org.apache.spark.sql.Row)
    extends DedupPolicy
}

/** Storage schema per stage (raw/json/processed): codec + retention — the
  * analog of `storage_schema` consumed at `HfdsDataWriteService.java:265-272`
  * and retention at `HdfsStorageService.java:593-601`. */
final case class StorageSchema(
    enabled: Boolean = true,
    codec: Option[String] = None, // parquet compression: snappy/gzip/zstd
    existAgeMax: Option[java.time.Duration] = None)

final case class SearchIndexSchema(
    tokenizeByDefault: Boolean = true,
    typeOverride: Map[String, String] = Map.empty,
    /** collide policy (`ElasticsearchIndexUtils.java:115-128`):
      * "new_type" → widen/quarantine, "error" → reject */
    collidePolicy: String = "new_type")

/** Warehouse schema: declared fixed types (`ElasticsearchHiveUtils.java:86-91`)
  * → Spark DDL via [[TypeMapping]]. `mainTableJson` is the reference's full
  * structural form (`table_format` nested JSON — structs/arrays/unions/maps,
  * `ElasticsearchHiveUtils.java:253-320`) compiled by
  * [[graft.sql.HiveSchema]]; it wins over the flat `mainTable` map. */
final case class WarehouseSchema(
    mainTable: Map[String, String] = Map.empty,
    mainTableJson: Option[String] = None)

/** Declared-type vocabulary → Spark SQL types (SURVEY §1.2). */
object TypeMapping {
  def toSparkType(t: String): DataType = {
    val up = t.trim.toUpperCase
    up match {
      case "TINYINT" => ByteType
      case "SMALLINT" => ShortType
      case "INT" | "INTEGER" => IntegerType
      case "BIGINT" => LongType
      case "BOOLEAN" => BooleanType
      case "FLOAT" => FloatType
      case "DOUBLE" => DoubleType
      case "STRING" => StringType
      case "BINARY" => BinaryType
      case "TIMESTAMP" => TimestampType
      case "DATE" => DateType
      case s if s.startsWith("DECIMAL") =>
        val ps = "\\d+".r.findAllIn(s).toSeq.map(_.toInt)
        if (ps.size >= 2) DecimalType(ps(0), ps(1))
        else if (ps.size == 1) DecimalType(ps(0), 0)
        else DecimalType(38, 18)
      case s if s.startsWith("VARCHAR") || s.startsWith("CHAR") => StringType
      case s if s.startsWith("ARRAY<") && s.endsWith(">") =>
        ArrayType(toSparkType(s.stripPrefix("ARRAY<").stripSuffix(">")))
      case s if s.startsWith("MAP<") && s.endsWith(">") =>
        splitTopLevel(s.stripPrefix("MAP<").stripSuffix(">")) match {
          case Seq(k, v) => MapType(toSparkType(k), toSparkType(v))
          case _ => throw new IllegalArgumentException(s"bad MAP type: $s")
        }
      case s if s.startsWith("STRUCT<") && s.endsWith(">") =>
        val body = s.stripPrefix("STRUCT<").stripSuffix(">")
        StructType(splitTopLevel(body).map { f =>
          val Array(n, ft) = f.split(":", 2)
          StructField(n.trim.toLowerCase, toSparkType(ft))
        })
      // UNIONTYPE<> has no Spark equivalent → struct of nullable alternatives
      case s if s.startsWith("UNIONTYPE<") && s.endsWith(">") =>
        val alts = splitTopLevel(s.stripPrefix("UNIONTYPE<").stripSuffix(">"))
        StructType(alts.zipWithIndex.map { case (a, i) =>
          StructField(s"alt$i", toSparkType(a))
        })
      case other => throw new IllegalArgumentException(s"unknown declared type: $other")
    }
  }

  /** split "a:INT,b:STRUCT<x:INT,y:INT>" on top-level commas only — both
    * angle brackets AND parentheses nest (DECIMAL(10,2) inside a MAP/STRUCT
    * must not split on its precision comma) */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; val cur = new StringBuilder
    s.foreach {
      case c @ ('<' | '(') => depth += 1; cur += c
      case c @ ('>' | ')') => depth -= 1; cur += c
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty) out += cur.result()
    out.toSeq
  }
}
