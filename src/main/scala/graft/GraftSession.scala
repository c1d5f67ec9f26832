package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session config, applied by Verify/Bench/tests.
  * Scale stance: AQE on (runtime shuffle re-plan + skew-join handling),
  * shuffle partitions sized to local cores here but expected to be overridden
  * (or left to AQE coalescing) on a real cluster. */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // SPARK_GRAFT_AQE=false: measurement-only escape hatch (JobProfile
      // A/B of adaptive-execution overhead on small inputs); the engine
      // default — and the driver bench — keeps AQE on (runtime re-plan +
      // skew-join handling, the 100 TB stance)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // driver testdata ships TIMESTAMP(NANOS) parquet — read as long,
      // Tables.t converts to micros (see Tables.t scaladoc)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucket time-partition values are strings for every grouping period
      // ("2024-01-05", "2024-w03", …) — don't let daily/yearly infer
      // date/int and diverge by period
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      // Exploding a computed array (LSH band buckets) otherwise gets an
      // inferred `size(e) > 0` filter below the Generate with the whole
      // staged expression tree substituted — the signature pipeline would be
      // re-evaluated per row inside that Filter (higher-order functions are
      // interpreted, so this is catastrophic, not just redundant).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // local files through graft.store.LocalFs: Hadoop's local file
      // system without a forked `chmod` per file and directory written
      .config("spark.hadoop.fs.file.impl", classOf[graft.store.LocalFs].getName)

  def local(): SparkSession = {
    // default to every core (the driver contract is local[32]); tests and
    // ad-hoc runs can cap via SPARK_GRAFT_CPUS
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val s = builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
