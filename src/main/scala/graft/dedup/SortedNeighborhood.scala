package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sorted-neighborhood blocking (SNM): order the corpus by a blocking key
  * and emit every pair of rows within `window` positions of each other —
  * the classic record-linkage blocker (Hernández & Stolfo's merge/purge)
  * complementing hash/LSH blocking: it catches near-dups whose keys sort
  * adjacently even when no exact token or band collides.
  *
  * Distributed shape — the part that matters at 100 TB: a naive
  * `row_number() OVER (ORDER BY key)` is a single-partition window (the
  * whole corpus through one task). Instead:
  *
  *   1. `repartitionByRange` + `sortWithinPartitions` — Spark's normal
  *      distributed sort (range exchange, per-partition sort).
  *   2. `monotonically_increasing_id()` over the sorted partitions: by
  *      contract it is `partitionId << 33 | localOffset` with contiguous
  *      per-partition offsets, so it yields (pid, local rank) without
  *      leaving codegen.
  *   3. Per-partition counts → cumulative offsets: a tiny numPartitions-row
  *      aggregate, cumsummed with a window over those few rows and
  *      broadcast back — no driver collect.
  *   4. Global rank = offset(pid) + local rank; neighbor pairs become a
  *      shuffled EQUI-join: the left side explodes to its `window` target
  *      ranks (rn+1 … rn+w), joined on the right side's rank.
  *
  * Every true neighbor pair appears exactly once (ranks are unique and
  * targets are distinct); pairs spanning range-partition boundaries are
  * found because ranks are globally contiguous across partitions.
  */
object SortedNeighborhood {

  /** @param df       input rows
    * @param idCol    unique id column (also the final sort tiebreaker, so
    *                 the neighborhood order — and thus the result — is
    *                 deterministic even with duplicate keys)
    * @param sortCols blocking key: columns to order by
    * @param window   w: pair each row with the next w rows in sort order
    * @return (rn_a, rn_b, &lt;left cols suffixed _a&gt;, &lt;right cols
    *         suffixed _b&gt;) for all pairs with rn_b - rn_a in [1, w] */
  def pairs(df: DataFrame, idCol: String, sortCols: Seq[String],
      window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(sortCols.nonEmpty, "sortCols must not be empty")
    // "rn" is reserved too: a user column named rn would rename to rn_a /
    // rn_b and collide with the rank columns of the same names
    val reserved = Seq("__mid", "__pid", "__lrn", "__off", "__rn", "rn")
    require(df.columns.toSet.intersect(reserved.toSet).isEmpty,
      s"input columns must not be named ${reserved.mkString("/")} (reserved)")

    val order = (sortCols :+ idCol).map(col)
    // localCheckpoint pins ONE materialization of the range exchange +
    // ids: `ranked` feeds four subtrees (lhs/rhs mains, each side's
    // broadcast offsets), and without pinning their agreement depends on
    // Spark reusing a single exchange — AQE coalescing or a re-sampled
    // range boundary would silently desynchronize __pid from the offsets
    // table. Eager: the rank assignment runs exactly once, here.
    val ranked = df
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftright(col("__mid"), 33))
      .withColumn("__lrn", col("__mid").bitwiseAND(lit((1L << 33) - 1)))
      .drop("__mid")
      .localCheckpoint()

    // numPartitions rows: cumulative count of rows in partitions BEFORE
    // each pid. The window runs over those few rows only, then broadcasts.
    val offsets = ranked.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(sum(col("__cnt")).over(
          Window.orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "__off")

    val globally = ranked.join(broadcast(offsets), "__pid")
      .withColumn("__rn", col("__off") + col("__lrn"))
      .drop("__pid", "__lrn", "__off")

    def side(suffix: String): DataFrame =
      df.columns.foldLeft(globally) { (d, c) =>
        d.withColumnRenamed(c, s"$c$suffix")
      }.withColumnRenamed("__rn", s"rn$suffix")

    val lhs = side("_a")
      .withColumn("rn_b", explode(sequence(
        col("rn_a") + 1, col("rn_a") + window)))
    lhs.join(side("_b"), "rn_b")
  }
}
