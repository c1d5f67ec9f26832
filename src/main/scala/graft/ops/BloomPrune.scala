package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter join pruning: shrink the big (probe) side of a semi/inner
  * join BEFORE its shuffle by testing each probe key against a Bloom filter
  * built from the (already filtered) build side.
  *
  * This is the classic 100 TB shuffle killer: when a selective dimension
  * filter keeps 1% of keys, a plain shuffled semi-join still shuffles 100%
  * of the fact table; with the bloom pre-filter only (matches + false
  * positives) rows reach the exchange. The filter itself is built
  * distributed (`stat.bloomFilter` runs a treeAggregate) and only the
  * fixed-size bitmap — `expectedNumItems`/`fpp`-bounded, megabytes — lands
  * on the driver and is broadcast back, never the key set itself.
  *
  * The result stays EXACT: the bloom admits no false negatives, and the
  * follow-up semi-join removes its false positives. Callers that can
  * tolerate fpp-rate extras (e.g. a pre-pass feeding an exact stage) can
  * use [[prunedOnly]] and skip the second join.
  *
  * The membership probe is a deserialized-bitmap UDF, so the pruning filter
  * itself is outside whole-stage codegen; it still evaluates scan-adjacent
  * (before the exchange), which is where the win is. Spark's own runtime
  * row-level bloom (`spark.sql.optimizer.runtime.bloomFilter.enabled`)
  * covers the equi-join case automatically; this operator makes the same
  * trick available to CRUD-path key lookups and non-join consumers.
  */
object BloomPrune {

  /** Build a Bloom filter of `keyCol` on `build` (long keys). */
  def buildFilter(build: DataFrame, keyCol: String,
      expectedNumItems: Long = 1000000L, fpp: Double = 0.03): BloomFilter =
    build.stat.bloomFilter(keyCol, expectedNumItems, fpp)

  /** Probe-side rows whose `keyCol` might be in `bf` (exact minus nothing:
    * all true matches survive; ~fpp of non-matches leak through). */
  def prunedOnly(probe: DataFrame, keyCol: String, bf: BloomFilter): DataFrame = {
    val spark = probe.sparkSession
    val bfB = spark.sparkContext.broadcast(bf)
    val might = udf((k: java.lang.Long) =>
      k != null && bfB.value.mightContainLong(k))
    probe.filter(might(col(keyCol)))
  }

  /** Exact semi-join of `probe` against `build` keys, bloom-pruned before
    * the shuffle: filter → co-keyed left-semi join. */
  def semiJoin(probe: DataFrame, build: DataFrame, probeKey: String,
      buildKey: String, expectedNumItems: Long = 1000000L,
      fpp: Double = 0.03): DataFrame = {
    val bf = buildFilter(build, buildKey, expectedNumItems, fpp)
    prunedOnly(probe, probeKey, bf)
      .join(build.select(col(buildKey).as(probeKey)), Seq(probeKey), "left_semi")
  }
}
