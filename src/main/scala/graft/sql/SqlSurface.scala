package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Bucket, TypeMapping}

/** The SQL/warehouse surface (SURVEY §2.7):
  *
  *  - Q1: arbitrary SQL over registered bucket views, result rows emitted as
  *    records (`SparkSqlTopology.java:53-116` — there the inputs were ES
  *    temp tables and rows were rebuilt as JSON by column name; here the
  *    catalog IS the engine, and row→record is `to_json(struct(*))`),
  *  - Q2: subsample before SQL (`spark.aleph2_subsample`,
  *    `SparkSqlTopology.java:47-48,73-77`),
  *  - Q3: warehouse DDL generation — the analog of Hive-over-ES external
  *    table DDL (`ElasticsearchHiveUtils.java:163-245`) is a
  *    `CREATE TABLE ... USING parquet` over the bucket's store, with
  *    `name_mappings` becoming a renamed view,
  *  - Q4: test caps = `.limit(n)` (`SparkTechnologyUtils.java:297-311`).
  */
object SqlSurface {

  /** Q1: run user SQL against whatever views the caller registered. */
  def runSql(spark: SparkSession, sql: String): DataFrame = spark.sql(sql)

  /** Q1 emit path: one JSON record per row, fields by column name. */
  def rowsAsJsonRecords(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("record"))

  /** Q2: subsample. Deterministic seeded Bernoulli sample. */
  def subsample(df: DataFrame, fraction: Double, seed: Long = 42L): DataFrame =
    df.sample(withReplacement = false, fraction, seed)

  /** Q2 test-override flavor: cap at n records (reference test spec cap). */
  def testCap(df: DataFrame, maxRecords: Int): DataFrame = df.limit(maxRecords)

  /** Q3: DDL for the bucket's main table from a declared warehouse schema
    * (declared types per SURVEY §1.2 vocabulary), plus an optional renamed
    * view for `name_mappings`. */
  def warehouseDdl(bucket: Bucket, tableLocation: String): String = {
    val wh = bucket.dataSchema.dataWarehouse
    // structural declaration (nested structs/arrays/unions/maps) wins; the
    // flat name→declared-type map remains for simple tables
    val cols = wh.flatMap(_.mainTableJson) match {
      case Some(json) =>
        HiveSchema.toStructType(HiveSchema.parse(json)).fields
          .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      case None =>
        wh.map(_.mainTable).getOrElse(Map.empty).map { case (name, declared) =>
          s"$name ${TypeMapping.toSparkType(declared).sql}"
        }.mkString(", ")
    }
    s"CREATE TABLE IF NOT EXISTS ${bucket.signature} ($cols) USING parquet " +
      s"LOCATION '$tableLocation'"
  }

  /** Q3 executed: run the warehouse DDL so the bucket is queryable by name
    * through the session catalog (the reference registers Hive external
    * tables over the store via JDBC, `ElasticsearchHiveUtils.java:333-385`;
    * here the catalog is Spark's own). Returns the registered table. With a
    * metastore-backed deployment the entry persists across sessions; the
    * in-memory catalog scopes it to the session — same DDL either way. */
  def registerWarehouseTable(spark: SparkSession, bucket: Bucket,
      tableLocation: String): DataFrame = {
    spark.sql(warehouseDdl(bucket, tableLocation))
    spark.table(bucket.signature)
  }

  def dropWarehouseTable(spark: SparkSession, bucket: Bucket): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${bucket.signature}")

  /** X5 re-expression — the catalog bridge that replaces the reference's
    * Python driver shim (`aleph2_driver.py:1-32` exposed
    * `getRddInput(name)`/`emitRdd` through a wrapper process because the
    * platform had no Python surface). PySpark shares the Spark session
    * catalog, so exposing each bucket's store as a table named by its
    * signature gives Python exactly the shim's contract natively:
    * `spark.table("<signature>")` replaces `getRddInput`, an ordinary
    * DataFrame write through the store replaces `emitRdd` — no shim
    * process, no RDD serialization hop. Returns the registered names. */
  def exposeBuckets(store: graft.store.BucketStore,
      buckets: Seq[Bucket], stage: String = "processed"): Seq[String] =
    buckets.map { b =>
      store.read(b, stage).createOrReplaceTempView(b.signature)
      b.signature
    }

  /** The cross-PROCESS half of the X5 bridge: [[exposeBuckets]]' temp views
    * are session-scoped, so a separate python interpreter resolves buckets
    * by signature from a JSON manifest of storage paths instead — the same
    * hand-off shape as the reference's driver shim (`aleph2_driver.py:1-32`
    * built the user script's inputs from paths the Java side staged).
    * `tools/graft_pyspark_driver.py` is the python half
    * (`GraftContext.input(signature)` / `emit(df)`); PySparkBridgeSpec
    * executes the full Scala → python → Scala round trip. */
  def writePythonManifest(store: graft.store.BucketStore, buckets: Seq[Bucket],
      file: java.nio.file.Path, stage: String = "processed"): Unit = {
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json = buckets
      .map(b => s"${jstr(b.signature)}: ${jstr(store.stagePath(b, stage))}")
      .mkString("{", ", ", "}")
    java.nio.file.Files.write(file, (json + "\n").getBytes("UTF-8"))
  }

  /** Q3 `name_mappings` analog: view with renamed columns. */
  def renamedView(df: DataFrame, viewName: String,
      mappings: Map[String, String]): Unit = {
    val renamed = mappings.foldLeft(df) { case (d, (from, to)) =>
      d.withColumnRenamed(from, to)
    }
    renamed.createOrReplaceTempView(viewName)
  }
}
