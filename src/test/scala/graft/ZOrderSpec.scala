package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.ZOrder
import graft.util.Scratch

/** Z-order layout contract: after clustering, every output file's
  * bounding box is tight on BOTH dimensions — the property parquet
  * min/max skipping actually prunes on — whereas a single-column sort
  * leaves the second dimension's per-file range at ~the full domain. */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("zValue interleaves monotonically within each dimension") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L))
      .toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b"), 0L, 65535L, 0L, 65535L).as("z"))
    val zs = df.as[Long].collect()
    assert(zs(0) === 0L)
    assert(zs(3) === (1L << 32) - 1, s"full-corner z was ${zs(3)}")
    // a occupies even bits, b odd: the two single-corner codes are disjoint
    assert((zs(1) & zs(2)) === 0L && (zs(1) | zs(2)) === zs(3))
  }

  /** mean per-file normalized range of `c` over already-written files. */
  private def meanFileRange(written: org.apache.spark.sql.DataFrame,
      c: String): Double = {
    val global = written
      .agg(min(col(c)).cast("double"), max(col(c)).cast("double")).head()
    val span = math.max(global.getDouble(1) - global.getDouble(0), 1.0)
    val perFile = written
      .withColumn("__f", input_file_name())
      .groupBy("__f")
      .agg((max(col(c)).cast("double") - min(col(c)).cast("double")).as("r"))
      .agg(avg(col("r"))).head().getDouble(0)
    perFile / span
  }

  private def meanFileRange(dir: String, c: String): Double =
    meanFileRange(spark.read.parquet(dir), c)

  test("z-clustered files have tight bounding boxes on BOTH dimensions") {
    val orders = Tables.t(spark, TestSession.sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), to_date(lit("2020-01-01")))
          .cast("long").as("d_days"))
    val dir = Scratch.dir("graft_zorder")
    // write each layout ONCE; measure both dimensions from the same files
    ZOrder.clustered(orders, "o_custkey", "d_days", numFiles = 16)
      .write.mode("overwrite").parquet(s"$dir/z")
    orders.repartitionByRange(16, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(s"$dir/s")
    val custRange = meanFileRange(s"$dir/z", "o_custkey")
    // same data, single-column sort: the OTHER dimension stays wide
    val dayRangeSorted = meanFileRange(s"$dir/s", "d_days")
    val dayRangeZ = meanFileRange(s"$dir/z", "d_days")
    // 16 z-tiles → each dim range ~1/sqrt(16)=0.25 of the domain; allow 2x
    assert(custRange <= 0.5, s"custkey per-file range too wide: $custRange")
    assert(dayRangeZ <= 0.5, s"date per-file range too wide: $dayRangeZ")
    assert(dayRangeSorted >= 0.8,
      s"control violated: single-column sort should leave dates wide, got $dayRangeSorted")
  }

  /** Files holding ≥1 row matching `pred`, as a fraction of all files —
    * the file-granularity skipping a stats index (Delta/Iceberg file
    * min/max, parquet row-group stats) gets from the layout. */
  private def filesTouchedFrac(written: org.apache.spark.sql.DataFrame,
      pred: org.apache.spark.sql.Column): Double = {
    val all = written.select(input_file_name()).distinct().count().toDouble
    val hit = written.filter(pred).select(input_file_name()).distinct().count()
    hit / all
  }

  test("two-column box filter on a z-clustered layout skips most files") {
    val orders = Tables.t(spark, TestSession.sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), to_date(lit("2020-01-01")))
          .cast("long").as("d_days"))
    val Array(cLo, cHi, dLo, dHi) = orders.agg(
      min("o_custkey"), max("o_custkey"), min("d_days"), max("d_days"))
      .head().toSeq.map(_.toString.toDouble.toLong).toArray
    // middle-quarter box on each dimension: 1/16 of the 2-D domain
    def mid(lo: Long, hi: Long): (Long, Long) = {
      val span = hi - lo
      (lo + span * 3 / 8, lo + span * 5 / 8)
    }
    val (c1, c2) = mid(cLo, cHi); val (d1, d2) = mid(dLo, dHi)
    val box = col("o_custkey").between(c1, c2) && col("d_days").between(d1, d2)
    val dir = Scratch.dir("graft_zskip")
    ZOrder.clustered(orders, Seq("o_custkey", "d_days"), numFiles = 32)
      .write.mode("overwrite").parquet(s"$dir/z")
    val written = spark.read.parquet(s"$dir/z")
    val frac = filesTouchedFrac(written, box)
    assert(frac <= 0.25, f"box touched $frac%.2f of z-ordered files (want <=0.25)")
    // and the predicate actually reaches the parquet scan for stats pruning
    val plan = written.filter(box).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(o_custkey"),
      s"box predicate not pushed to the scan:\n$plan")
    // control: a custkey-only sort leaves d_days scattered — the d_days
    // half of the box alone touches nearly every file there
    orders.repartitionByRange(32, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(s"$dir/s")
    val fracSorted = filesTouchedFrac(spark.read.parquet(s"$dir/s"),
      col("d_days").between(d1, d2))
    assert(fracSorted >= 0.8,
      f"control violated: expected the d_days slab to hit most single-sorted" +
        f" files, got $fracSorted%.2f")
  }

  test("compact(preserveZOrder) keeps skipping; plain compact destroys it") {
    val store = new graft.store.BucketStore(spark,
      Scratch.dir("graft_zcompact"))
    val b = graft.model.Bucket("/z/compact", graft.model.DataSchema())
    val orders = Tables.t(spark, TestSession.sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), to_date(lit("2020-01-01")))
          .cast("long").as("d_days"))
    store.writeZOrdered(b, orders, Seq("o_custkey", "d_days"),
      numFiles = 32, stage = "processed")
    val Array(cLo, cHi, dLo, dHi) = orders.agg(
      min("o_custkey"), max("o_custkey"), min("d_days"), max("d_days"))
      .head().toSeq.map(_.toString.toDouble.toLong).toArray
    val box = col("o_custkey")
      .between(cLo + (cHi - cLo) * 3 / 8, cLo + (cHi - cLo) * 5 / 8) &&
      col("d_days").between(dLo + (dHi - dLo) * 3 / 8, dLo + (dHi - dLo) * 5 / 8)
    assert(filesTouchedFrac(store.read(b), box) <= 0.25)
    store.compact(b, shufflePartitions = 32,
      preserveZOrder = Some(Seq("o_custkey", "d_days")))
    val fracAfter = filesTouchedFrac(store.read(b), box)
    assert(store.read(b).count() === orders.count())
    assert(fracAfter <= 0.25,
      f"compaction destroyed the z-layout: box now touches $fracAfter%.2f")
    // control: a plain compact re-packs arbitrarily and skipping dies
    store.compact(b, shufflePartitions = 32)
    val fracPlain = filesTouchedFrac(store.read(b), box)
    assert(fracPlain >= 2 * fracAfter,
      f"expected plain compact to spread the box, got $fracPlain%.2f")
  }

  test("rank scaling keeps skipping on a power-law column; linear collapses") {
    val orders = Tables.t(spark, TestSession.sf, "orders")
      .select(col("o_custkey"),
        // 90% of rows land on ten hot values, the tail spreads to ~1e10
        when(col("o_orderkey") % 10 < 9, col("o_orderkey") % 10)
          .otherwise((col("o_orderkey") % 100000L) * lit(100000L))
          .cast("long").as("skew"))
    val dir = Scratch.dir("graft_zrank")
    ZOrder.clusteredByRank(orders, Seq("o_custkey", "skew"), numFiles = 16)
      .write.mode("overwrite").parquet(s"$dir/r")
    ZOrder.clustered(orders, Seq("o_custkey", "skew"), numFiles = 16)
      .write.mode("overwrite").parquet(s"$dir/l")
    // single-hot-value lookup (~9% of rows): equi-DEPTH ranks give the
    // value its own z-stripe (few files); equi-width linear scaling maps
    // EVERY hot value to z-bucket 0, so the lookup bleeds across all
    // hot-plane files — ~90% of the data
    val hot = col("skew") === 3L
    val rankFrac = filesTouchedFrac(spark.read.parquet(s"$dir/r"), hot)
    val linFrac = filesTouchedFrac(spark.read.parquet(s"$dir/l"), hot)
    assert(rankFrac <= 0.5,
      f"hot-value lookup touched $rankFrac%.2f of rank-scaled files")
    assert(linFrac >= 1.5 * rankFrac,
      f"control violated: linear should collapse hot values into shared " +
        f"z-buckets (linear $linFrac%.2f vs rank $rankFrac%.2f)")
    assert(spark.read.parquet(s"$dir/r").count() === orders.count())
  }

  test("writeZOrdered keeps the bounding-box property through the store path") {
    val store = new graft.store.BucketStore(spark,
      Scratch.dir("graft_zstore"))
    val b = graft.model.Bucket("/z/orders", graft.model.DataSchema())
    val orders = Tables.t(spark, TestSession.sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), to_date(lit("2020-01-01")))
          .cast("long").as("d_days"))
    store.writeZOrdered(b, orders, "o_custkey", "d_days", numFiles = 16)
    val written = store.read(b)
    assert(written.count() === orders.count())
    assert(meanFileRange(written, "o_custkey") <= 0.5)
    assert(meanFileRange(written, "d_days") <= 0.5)
  }
}
