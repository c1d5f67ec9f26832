package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Final-schema convention, enforced mechanically: no DecimalType may
    * reach an emitted query schema (nested included). DECIMAL is the one
    * type the driver's cross-engine hasher canonicalizes differently
    * between a Spark-written parquet and the DuckDB oracle — every round-9
    * hash failure was exactly this, with cell-identical values. Queries
    * compute in DECIMAL internally (exact, order-independent addition) and
    * cast the final emitted columns to DOUBLE/BIGINT. Throwing here turns a
    * silent driver-red into a loud local failure. */
  private[graft] def lintFinalSchema(
      name: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types._
    def offenders(dt: DataType, path: String): Seq[String] = dt match {
      case _: DecimalType      => Seq(path)
      case s: StructType       => s.fields.toSeq.flatMap(f =>
        offenders(f.dataType, s"$path.${f.name}"))
      case a: ArrayType        => offenders(a.elementType, s"$path[]")
      case m: MapType          => offenders(m.keyType, s"$path<key>") ++
        offenders(m.valueType, s"$path<val>")
      case _                   => Nil
    }
    val bad = schema.fields.toSeq.flatMap(f => offenders(f.dataType, f.name))
    require(bad.isEmpty,
      s"[lint] query '$name' emits DECIMAL in its final schema " +
        s"(${bad.mkString(", ")}); cast the emitted column to DOUBLE/BIGINT " +
        "— keep DECIMAL arithmetic internal (driver hashing contract)")
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names = run only those queries (local iteration aid;
    // the driver always passes exactly two args → full run)
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — a typo here would " +
        "silently verify nothing")
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        lintFinalSchema(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // subset runs dump only the selected oracles: verify_local counts an
    // oracle with no written output as FAIL (the lint/crash loudness
    // contract), and the full oracle map would flood a selective
    // iteration run with false "missing" failures
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
