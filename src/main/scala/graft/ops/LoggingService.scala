package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Bucket
import graft.store.BucketStore

/** X7: structured logging service — log objects are ordinary records written
  * through the same bucket store, with per-subsystem level thresholds
  * (`aleph2_logging_service/.../utils/LoggingUtils.java:89-94` multi-writer,
  * `:105-138` log object build + level thresholds).
  *
  * Levels (ordered): TRACE < DEBUG < INFO < WARN < ERROR. A record passes if
  * its level ≥ the threshold configured for its subsystem (default
  * threshold for unknown subsystems).
  */
object LoggingService {
  val Levels: Seq[String] = Seq("TRACE", "DEBUG", "INFO", "WARN", "ERROR")
  private val rank: Map[String, Int] = Levels.zipWithIndex.toMap

  /** Build a log-record frame from (subsystem, level, message, ts) cols. */
  def logRecords(df: DataFrame, subsystem: String): DataFrame =
    df.withColumn("subsystem", lit(subsystem))

  /** Threshold filter: keep records at-or-above the configured level per
    * subsystem. Pure predicate — codegen'd, pushes to the scan. */
  def levelFilter(df: DataFrame, thresholds: Map[String, String],
      defaultLevel: String = "INFO"): DataFrame = {
    val rankCol = Levels.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (lvl, i)) => when(upper(col("level")) === lvl, i).otherwise(acc)
    }
    val thresholdCol = thresholds.foldLeft(lit(rank(defaultLevel))) {
      case (acc, (subsys, lvl)) =>
        when(col("subsystem") === subsys, rank(lvl)).otherwise(acc)
    }
    df.filter(rankCol >= thresholdCol)
  }

  /** X7 second half — count-aggregating merge + rate-limited emission:
    * duplicate log records collapse per (key cols, rate window), emitting ONE
    * record per key per window carrying the suppressed-duplicate count and
    * the first/last timestamps, so a hot log key costs one output row per
    * window instead of flooding the sink (the reference's merge functions
    * count-aggregate repeats of a merge key and re-emit on a rate limit).
    *
    * Scale: a plain groupBy — partial aggregation absorbs the flood map-side
    * before the shuffle, so a key logging millions of duplicates ships one
    * partial row per task, not per record. */
  def mergeAndRateLimit(df: DataFrame, tsCol: String = "ts",
      keyCols: Seq[String] = Seq("subsystem", "level", "message"),
      windowSec: Int = 60): DataFrame =
    df.groupBy(keyCols.map(col) :+
        window(col(tsCol), s"$windowSec seconds").as("win"): _*)
      .agg(count(lit(1)).as("merged_count"),
        min(col(tsCol)).as("first_ts"), max(col(tsCol)).as("last_ts"))

  /** Write accepted log records into the bucket's store (same write path as
    * any data — the "log buckets are buckets" stance of the reference). */
  def writeLogs(store: BucketStore, bucket: Bucket, records: DataFrame,
      thresholds: Map[String, String]): Unit =
    store.write(bucket, levelFilter(records, thresholds), stage = "json")
}
