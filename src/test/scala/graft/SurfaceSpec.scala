package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.GraphBuilder
import graft.model._
import graft.multimodal.Multimodal
import graft.sources.{XmlSource, XmlSourceConfig}
import graft.sql.SqlSurface
import graft.util.Scratch

class SurfaceSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("S3 XML source: attribute prefix, ignore fields, nested elements") {
    import spark.implicits._
    val doc =
      """<root><item id="7" skip="x"><name>alpha</name>
        |<meta><depth>2</depth></meta><skipme>y</skipme></item>
        |<item id="8"><name>beta</name></item></root>""".stripMargin
    val out = XmlSource.parse(Seq(doc).toDS(),
      XmlSourceConfig(rootElements = Seq("item"), attributePrefix = "@",
        ignoreFields = Set("skipme", "@skip"))).collect()
    assert(out.length === 2)
    assert(out(0).contains("\"@id\":\"7\""))
    assert(out(0).contains("\"name\":\"alpha\""))
    assert(out(0).contains("\"meta\":{\"depth\":\"2\"}"))
    assert(!out(0).contains("skip"))
    assert(out(1).contains("\"@id\":\"8\""))
  }

  test("Q3 warehouse DDL from declared types incl. struct/array/decimal") {
    val b = Bucket("/wh/sales", DataSchema(dataWarehouse = Some(WarehouseSchema(
      scala.collection.immutable.ListMap(
        "id" -> "BIGINT", "price" -> "DECIMAL(12,2)",
        "tags" -> "ARRAY<STRING>", "loc" -> "STRUCT<lat:DOUBLE,lon:DOUBLE>")))))
    val ddl = SqlSurface.warehouseDdl(b, "/data/wh/sales")
    assert(ddl === ("CREATE TABLE IF NOT EXISTS wh_sales (id BIGINT, " +
      "price DECIMAL(12,2), tags ARRAY<STRING>, " +
      "loc STRUCT<lat: DOUBLE, lon: DOUBLE>) USING parquet LOCATION '/data/wh/sales'"))
    // UNIONTYPE fallback → struct of alternatives
    assert(TypeMapping.toSparkType("UNIONTYPE<INT,STRING>").sql
      === "STRUCT<alt0: INT, alt1: STRING>")
    // parens nest too: a DECIMAL(p,s) comma must not split the MAP value
    assert(TypeMapping.toSparkType("MAP<STRING,DECIMAL(10,2)>").sql
      === "MAP<STRING, DECIMAL(10,2)>")
  }

  test("Q3 structural schema compiles to reference-format Hive DDL (golden)") {
    // same shape vocabulary as the reference's sample_hive_schema.json:
    // primitives, struct, map, array, unions, nesting of all of them
    val json = """{
      "primitive_field": "BIGINT",
      "raw_struct": { "raw_field_1": "VARCHAR", "raw_field_2": "DATE" },
      "raw_map": [ "STRING", "TIMESTAMP" ],
      "raw_array": [ "TINYINT" ],
      "raw_union_1": [ {}, "SMALLINT" ],
      "raw_union_2": [ {}, "INT", "BOOLEAN" ],
      "nested_struct": { "raw_field_1": "FLOAT",
        "nested_field2": { "nested_raw_1": "DOUBLE", "nested_nested_2": [ "BINARY" ] } },
      "nested_map": [ "STRING",
        { "raw_field_1": "CHAR", "nested_nested_2": [ {}, "STRING", "STRING", "DATE" ] } ],
      "nested_array_1": [ [ "STRING" ] ],
      "nested_array_2": [ { "raw_field_1": "STRING" } ],
      "nested_union": [ {}, { "raw_field_1": "STRING" } ]
    }"""
    val ddl = graft.sql.HiveSchema.hiveDdl(graft.sql.HiveSchema.parse(json))
    assert(ddl === "(primitive_field BIGINT," +
      "raw_struct STRUCT<raw_field_1: VARCHAR,raw_field_2: DATE>," +
      "raw_map MAP<STRING, TIMESTAMP>," +
      "raw_array ARRAY<TINYINT>," +
      "raw_union_1 UNIONTYPE< SMALLINT>," +
      "raw_union_2 UNIONTYPE< INT, BOOLEAN>," +
      "nested_struct STRUCT<raw_field_1: FLOAT," +
      "nested_field2: STRUCT<nested_raw_1: DOUBLE,nested_nested_2: ARRAY<BINARY>>>," +
      "nested_map MAP<STRING, STRUCT<raw_field_1: CHAR," +
      "nested_nested_2: UNIONTYPE< STRING, STRING, DATE>>>," +
      "nested_array_1 ARRAY<ARRAY<STRING>>," +
      "nested_array_2 ARRAY<STRUCT<raw_field_1: STRING>>," +
      "nested_union UNIONTYPE< STRUCT<raw_field_1: STRING>>)")
    // junk type names must be rejected, not passed through into DDL
    intercept[IllegalArgumentException] {
      graft.sql.HiveSchema.hiveDdl(graft.sql.HiveSchema.parse("""{"f": "BOGUS"}"""))
    }
  }

  test("Q3 structural schema lowers to Spark types (union → nullable alts)") {
    import org.apache.spark.sql.types._
    val st = graft.sql.HiveSchema.toStructType(graft.sql.HiveSchema.parse(
      """{ "id": "BIGINT",
           "loc": { "lat": "DOUBLE", "lon": "DOUBLE" },
           "tags": [ "STRING" ],
           "attrs": [ "STRING", "INT" ],
           "mixed": [ {}, "INT", "STRING" ] }"""))
    assert(st("id").dataType === LongType)
    assert(st("loc").dataType ===
      StructType(Seq(StructField("lat", DoubleType), StructField("lon", DoubleType))))
    assert(st("tags").dataType === ArrayType(StringType))
    assert(st("attrs").dataType === MapType(StringType, IntegerType))
    assert(st("mixed").dataType === StructType(Seq(
      StructField("alt0", IntegerType), StructField("alt1", StringType))))
  }

  test("Q3 executed DDL registers a NESTED structural table in the catalog") {
    val root = Scratch.dir("graft_whn")
    val store = new graft.store.BucketStore(spark, root)
    val b = Bucket("/wh/nested", DataSchema(dataWarehouse = Some(
      WarehouseSchema(mainTableJson = Some(
        """{ "r_regionkey": "BIGINT",
             "meta": { "name": "STRING", "tags": [ "STRING" ] } }""")))))
    store.write(b, Tables.t(spark, TestSession.sf, "region")
      .select(col("r_regionkey"),
        struct(col("r_name").as("name"), array(col("r_name")).as("tags")).as("meta")))
    val loc = store.stagePath(b) // resolved through the stage's _ROLES file
    try {
      val t = SqlSurface.registerWarehouseTable(spark, b, loc)
      assert(spark.catalog.tableExists(b.signature))
      assert(t.count() === 5)
      // typed nested access through the registered table
      assert(spark.sql(
        s"SELECT meta.name, meta.tags[0] FROM ${b.signature} " +
          "WHERE meta.name IS NOT NULL").count() === 5)
    } finally SqlSurface.dropWarehouseTable(spark, b)
  }

  test("Q3 executed DDL registers the bucket in the session catalog") {
    val root = Scratch.dir("graft_wh")
    val store = new graft.store.BucketStore(spark, root)
    val b = Bucket("/wh/regions", DataSchema(dataWarehouse = Some(
      WarehouseSchema(scala.collection.immutable.ListMap(
        "r_regionkey" -> "BIGINT", "r_name" -> "STRING")))))
    store.write(b, Tables.t(spark, TestSession.sf, "region")
      .select("r_regionkey", "r_name"))
    val loc = store.stagePath(b) // resolved through the stage's _ROLES file
    try {
      val t = SqlSurface.registerWarehouseTable(spark, b, loc)
      assert(spark.catalog.tableExists(b.signature))
      assert(t.count() === 5)
      assert(spark.sql(s"SELECT r_name FROM ${b.signature} ORDER BY r_regionkey")
        .count() === 5)
    } finally SqlSurface.dropWarehouseTable(spark, b)
    assert(!spark.catalog.tableExists(b.signature))
  }

  test("X5 catalog bridge: buckets become session tables PySpark can read") {
    val root = Scratch.dir("graft_px")
    val store = new graft.store.BucketStore(spark, root)
    val br = Bucket("/py/region")
    val bn = Bucket("/py/nation")
    store.write(br, Tables.t(spark, TestSession.sf, "region"))
    store.write(bn, Tables.t(spark, TestSession.sf, "nation"))
    val names = SqlSurface.exposeBuckets(store, Seq(br, bn))
    assert(names === Seq("py_region", "py_nation"))
    // the shim contract, natively: table read + cross-bucket SQL join
    assert(spark.table("py_region").count() === 5)
    assert(spark.sql("SELECT count(*) FROM py_nation n JOIN py_region r " +
      "ON n.n_regionkey = r.r_regionkey").head().getLong(0) === 25)
  }

  test("search-index schema drives dual raw/analyzed fields") {
    import graft.store.SearchIndexer
    val docs = Tables.t(spark, TestSession.sf, "documents")
    // default-on: every string col EXCEPT overridden ones gets __tokens
    val on = SearchIndexer.withAnalyzedFields(docs,
      SearchIndexSchema(tokenizeByDefault = true,
        typeOverride = Map("lang" -> "STRING", "source" -> "STRING")))
    assert(on.columns.contains("text__tokens"))
    assert(!on.columns.contains("lang__tokens"))
    assert(on.columns.toSet.intersect(docs.columns.toSet) === docs.columns.toSet)
    // default-off: only explicit TOKENIZED overrides analyze
    val off = SearchIndexer.withAnalyzedFields(docs,
      SearchIndexSchema(tokenizeByDefault = false,
        typeOverride = Map("lang" -> "TOKENIZED")))
    assert(off.columns.contains("lang__tokens"))
    assert(!off.columns.contains("text__tokens"))
    // default-on + explicit TOKENIZED override must still tokenize (an
    // override pinning the field to analysis is not an opt-out)
    val pinned = SearchIndexer.withAnalyzedFields(docs,
      SearchIndexSchema(tokenizeByDefault = true,
        typeOverride = Map("text" -> "TOKENIZED", "lang" -> "STRING")))
    assert(pinned.columns.contains("text__tokens"))
    assert(!pinned.columns.contains("lang__tokens"))
    // analyzed form is the whitespace tokenization of the raw field
    val row = on.select(col("text"), col("text__tokens")).head()
    assert(row.getSeq[String](1) === row.getString(0).split(" ").toSeq)
  }

  test("J1 matchAgainstExisting splits new vs present") {
    val existing = Tables.t(spark, TestSession.sf, "nation")
      .select(col("n_nationkey").as("key"), col("n_name"))
    val batch = Tables.t(spark, TestSession.sf, "nation")
      .select((col("n_nationkey") + 20).as("key"), col("n_name"))
    val (novel, present) = GraphBuilder.matchAgainstExisting(existing, batch, Seq("key"))
    // keys 0..24 exist; batch keys 20..44 → 20 new (25..44), 5 present (20..24)
    assert(novel.count() === 20)
    assert(present.count() === 5)
  }

  test("multimodal: media meta + batched decode preserves row count and batch shape") {
    val docs = Tables.t(spark, TestSession.sf, "documents")
      .withColumn("content", col("text").cast("binary"))
    val withMeta = Multimodal.withMediaMeta(docs, "content", "text")
    assert(withMeta.select("media_meta.kind").distinct().head.getString(0) === "text")
    // decoder sees batches of ≤ batchSize
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val counting = new Multimodal.MediaDecoder {
      def decodeBatch(batch: Seq[Array[Byte]]): Seq[org.apache.spark.sql.Row] = {
        seen.add(batch.size)
        Multimodal.FakeDecoder.decodeBatch(batch)
      }
    }
    val out = Multimodal.extractFeatures(withMeta, "doc_id", "content", counting, batchSize = 16)
    assert(out.count() === docs.count())
    // n_bytes equals text length for ascii corpus
    val bad = out.join(docs, "doc_id")
      .filter(col("n_bytes") =!= length(col("text"))).count()
    assert(bad === 0)
  }

  test("Q2 subsample is seed-deterministic") {
    val orders = Tables.t(spark, TestSession.sf, "orders")
    val a = SqlSurface.subsample(orders, 0.1, seed = 7).count()
    val b = SqlSurface.subsample(orders, 0.1, seed = 7).count()
    assert(a === b && a > 0 && a < orders.count())
  }
}
