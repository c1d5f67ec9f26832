package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dsl.{Query, QueryCompiler}
import graft.util.Scratch

/** Physical-plan assertions — the scale contract. Every DSL-compiled read
  * must push predicates and projections into the parquet scan; small-dim
  * joins must broadcast; narrow operators must not shuffle. These are the
  * properties that survive a 1000-executor 100 TB scale-up. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def formattedPlan(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  /** explain("formatted") text — unlike plan.toString it does not truncate
    * the PushedFilters/ReadSchema metadata at 100 chars. */
  private def explainFormatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  // Other suites share the session and may have cached the same parquet
  // plans; the CacheManager would substitute InMemoryRelation and hide the
  // scan-level pushdown these tests assert on.
  private def uncached[A](body: => A): A = {
    spark.catalog.clearCache()
    body
  }

  test("DSL predicates reach the parquet scan as PushedFilters") { uncached {
    val li = Tables.t(spark, TestSession.sf, "lineitem")
    val q = Query.allOf().when("l_returnflag", "R").rangeAbove("l_quantity", 30.0)
    val plan = explainFormatted(QueryCompiler.run(li, q))
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("EqualTo(l_returnflag,R)"), s"missing eq pushdown in:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_quantity,30.0)"), "missing range pushdown")
  } }

  test("In-list (withAny) pushes an In filter, not an OR chain") { uncached {
    val o = Tables.t(spark, TestSession.sf, "orders")
    val plan = QueryCompiler.run(o,
      Query.allOf().withAny("o_orderpriority", Seq("1-URGENT", "2-HIGH")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(o_orderpriority"), s"no In pushdown in:\n$plan")
  } }

  test("projection prunes the parquet ReadSchema to selected columns") { uncached {
    val o = Tables.t(spark, TestSession.sf, "orders")
    val plan = QueryCompiler.run(o,
      Query.allOf().withFields("o_orderkey", "o_totalprice"))
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderkey") && readSchema.contains("o_totalprice"))
    assert(!readSchema.contains("o_orderdate"),
      s"scan reads unprojected columns: $readSchema")
  } }

  test("small-dimension join broadcasts (no shuffle of the dim side)") {
    val o = Tables.t(spark, TestSession.sf, "orders")
    val n = Tables.t(spark, TestSession.sf, "nation")
    val joined = o.join(broadcast(n), o("o_custkey") % 25 === n("n_nationkey"))
    assert(formattedPlan(joined).contains("BroadcastHashJoin"))
  }

  test("narrow text/dedup projections have no exchange") {
    val docs = Tables.t(spark, TestSession.sf, "documents")
    val sig = docs
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
      .withColumn("sh", graft.dedup.TextDedup.wordShingles(col("toks"), 3))
      .withColumn("hs", graft.dedup.TextDedup.shingleHashes(col("sh")))
      .select(col("doc_id"), graft.dedup.TextDedup.minhashFromHashes(col("hs"), 16))
    assert(!formattedPlan(sig).contains("Exchange"), "signature pipeline shuffled")
  }

  test("PQ encode is a narrow projection; ADC scan broadcasts only the query side") {
    val emb = Tables.t(spark, TestSession.sf, "embeddings")
    val books = graft.similarity.Pq.Codebooks(m = 8, k = 4, subDim = 8,
      IndexedSeq.tabulate(8)(s => IndexedSeq.tabulate(4)(c =>
        Seq.tabulate(8)(d => (s + c + d) * 0.1))))
    val enc = graft.similarity.Pq.encode(emb, "embedding", books)
    // encoding a 100 TB corpus must never shuffle or join it
    assert(!formattedPlan(enc).contains("Exchange"), "PQ encode shuffled")
    val out = graft.similarity.Pq.adcTopK(
      emb.filter(col("vec_id") < 4), enc, books, k = 3, rerank = 10)
    val plan = formattedPlan(out)
    assert(plan.contains("BroadcastExchange"), "query side not broadcast")
    // candidate selection must rank map-side: only `rerank` rows per query
    // cross the exchange, not the whole scored corpus
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"no partial window group limit:\n$plan")
  }

  test("bucket store time partitions prune on partition predicates") {
    val store = new graft.store.BucketStore(spark,
      Scratch.dir("graft_prune"))
    val b = graft.model.Bucket("/prune/events", graft.model.DataSchema(
      temporal = Some(graft.model.TemporalSchema("ts", graft.model.GroupingPeriod.Daily))))
    store.write(b, Tables.t(spark, TestSession.sf, "events"))
    val pruned = store.read(b)
      .filter(col(graft.store.BucketStore.PartitionCol) === "2024-01-05")
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filter present and data filters empty → pruning, not scan+filter
    assert(plan.contains("PartitionFilters: [isnotnull(p_time"), s"no partition filter:\n$plan")
    assert(pruned.count() > 0)
  }

  test("dpp1: runtime day list prunes the fact scan via dynamic partition pruning") {
    val df = graft.queries.CoreQueries.dpp1(spark, TestSession.sf)
    val plan = df.queryExecution.executedPlan.toString
    // the dim's days are only known at runtime, so the scan's partition
    // filter must be a DPP subquery — a static filter can't exist here,
    // and its absence means the whole fact table scans at 100 TB
    assert(plan.contains("dynamicpruning"), s"no DPP subquery in plan:\n$plan")
    assert(df.count() === 5) // one row per dim day
  }

  test("F12: DSL date range becomes a partition filter and skips files") {
    val store = new graft.store.BucketStore(spark,
      Scratch.dir("graft_f12spec"))
    val b = graft.model.Bucket("/f12/events", graft.model.DataSchema(
      temporal = Some(graft.model.TemporalSchema("ts", graft.model.GroupingPeriod.Daily))))
    store.write(b, Tables.t(spark, TestSession.sf, "events"))
    // range on the RAW time column (not p_time): TimeSlice must derive the
    // partition bounds itself — this is the reference's
    // interpretObviousDateRange → index-enumeration optimization (F12)
    val q = Query.allOf().rangeIn("ts",
      java.time.Instant.parse("2024-01-05T00:00:00Z"),
      java.time.Instant.parse("2024-01-09T00:00:00Z"))
    val sliced = store.readForQuery(b, q)
    val plan = explainFormatted(sliced)
    val boundsRe =
      """PartitionFilters: \[isnotnull\(p_time#\d+\), \(p_time#\d+ >= 2024-01-05\), \(p_time#\d+ <= 2024-01-09\)\]""".r
    assert(boundsRe.findFirstIn(plan).isDefined,
      s"no derived p_time partition bounds in:\n$plan")
    // evidence the pruning is real, not cosmetic: the sliced scan reads a
    // strict subset of the partition files (4 of 30 daily partitions) —
    // input_file_name() reports the files the executed scan actually touched
    def filesRead(df: DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    val allFiles = filesRead(store.read(b))
    val slicedFiles = filesRead(sliced)
    assert(slicedFiles > 0 && allFiles > 0)
    assert(slicedFiles * 5 <= allFiles,
      s"pruning too weak: $slicedFiles of $allFiles files read")
    // and the row results agree with the unpruned filter-only evaluation
    val expected = graft.dsl.QueryCompiler.run(store.read(b), q).count()
    assert(sliced.count() === expected)
  }

  test("ANN top-k ranks map-side before the shuffle (partial top_k heap)") {
    val plan = formattedPlan(SparkEntry.queries("ann1_topk_exact")(spark, TestSession.sf))
    // the rank must be the bounded-heap top_k aggregate with a map-side
    // PARTIAL pass, so only k candidates per query per input partition
    // cross the exchange — the property that keeps exact rerank viable at
    // corpus scale. Stronger than the old WindowGroupLimit pin: the heap
    // holds O(k) state per query and the candidate set never shuffles or
    // sorts at all (the window still exchanged + sorted every candidate).
    assert(plan.contains("partial_top_k") && plan.contains("ObjectHashAggregate"),
      s"no map-side partial top_k heap:\n$plan")
    assert(!plan.contains("Window"),
      s"corpus-sized rank window still in the serve plan:\n$plan")
    assert(plan.contains("BroadcastExchange"), "query side not broadcast")
  }

  test("exhaustive-rerank ADC serve has no candidate rank window") {
    val emb = Tables.t(spark, TestSession.sf, "embeddings")
    val books = graft.similarity.Pq.Codebooks(m = 8, k = 4, subDim = 8,
      IndexedSeq.tabulate(8)(s => IndexedSeq.tabulate(4)(c =>
        Seq.tabulate(8)(d => (s + c + d) * 0.1))))
    val enc = graft.similarity.Pq.encode(emb, "embedding", books)
    // rerank = Int.MaxValue (every declared PQ query's oracle config) keeps
    // every candidate: the ADC cut window would exchange + sort the whole
    // scored candidate set by q_id for a filter that passes all rows — the
    // serve plan must not contain it (the bounded-rerank config above keeps
    // its WindowGroupLimit pin; this is the complementary shape)
    val out = graft.similarity.Pq.adcTopK(
      emb.filter(col("vec_id") < 4), enc, books, k = 3, rerank = Int.MaxValue)
    val plan = formattedPlan(out)
    assert(!plan.contains("Window"),
      s"exhaustive rerank still pays the candidate rank window:\n$plan")
    assert(plan.contains("partial_top_k") && plan.contains("ObjectHashAggregate"),
      s"no map-side partial top_k heap:\n$plan")
  }

  test("graph batch-vs-store split never broadcasts the raw store side") {
    import spark.implicits._
    val existing = Tables.t(spark, TestSession.sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("price"))
    val batch = Seq((1L, 0.0), (3L, 0.0), (999999999L, 0.0)).toDF("key", "price")
    val (novel, present) =
      graft.graph.GraphBuilder.matchAgainstExisting(existing, batch, Seq("key"))
    for (df <- Seq(novel, present,
        graft.graph.GraphBuilder.upsertVertices(existing, batch, Seq("key")))) {
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case other => other
      }
      val broadcasts = plan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      assert(broadcasts.nonEmpty, "split is not broadcast-joined at all")
      // A broadcast subtree may touch the store's parquet scan only through
      // the bounding semi-join against the (small) batch keys — broadcasting
      // the store's raw key set is the billions-of-keys OOM at 100×.
      broadcasts.foreach { b =>
        val t = b.toString
        if (t.contains("FileScan") || t.contains("Scan parquet"))
          assert(t.contains("BroadcastHashJoin") || t.contains("Join LeftSemi"),
            s"raw store side broadcast:\n$t")
      }
    }
  }

  test("q1 aggregation uses partial aggregation (two HashAggregate phases)") {
    val plan = formattedPlan(SparkEntry.queries("q1_agg")(spark, TestSession.sf))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, "no map-side partial agg")
  }

  test("co-bucketed tables join without a shuffle exchange") {
    val root = Scratch.dir("graft_buck")
    val store = new graft.store.BucketStore(spark, root)
    val orders = Tables.t(spark, TestSession.sf, "orders")
    val customer = Tables.t(spark, TestSession.sf, "customer")
    val tOrders = store.writeBucketed(graft.model.Bucket("/bk/orders"),
      orders, Seq("o_custkey"), numBuckets = 8)
    val tCust = store.writeBucketed(graft.model.Bucket("/bk/customer"),
      customer, Seq("c_custkey"), numBuckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      // force the non-broadcast path: the claim under test is that the
      // SHUFFLE is gone, which broadcast would mask
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(tOrders).join(spark.table(tCust),
        col("o_custkey") === col("c_custkey"))
      val plan = formattedPlan(joined)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a non-broadcast join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join still shuffles:\n$plan")
      assert(joined.count() === orders.count()) // every order has a customer
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $tOrders")
      spark.sql(s"DROP TABLE IF EXISTS $tCust")
    }
  }

  test("salted agg is two genuine aggregate stages (hot key spread + combine)") {
    val li = Tables.t(spark, TestSession.sf, "lineitem")
    val plan = formattedPlan(graft.ops.Skew.saltedAgg(
      li, Seq("l_returnflag"), Seq("l_quantity"), buckets = 16))
    // stage 1 on (key, salt), stage 2 on key — each with partial+final =
    // ≥4 HashAggregates and 2 exchanges; anything less means Catalyst
    // collapsed the salting and the hot key funnels to one reducer again
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"salting collapsed:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size >= 2,
      s"expected two key exchanges:\n$plan")
  }

  test("salting spreads the hot key across reducers (deterministic shuffle balance)") {
    // rows per reduce partition under the join/agg partitioning — the
    // quantity that decides single-task pileup, measured without wall-clock
    // noise: 50% of rows on one key funnel many× the mean into one
    // partition unsalted; salted, no partition exceeds 2× the mean. Salt
    // cardinality must comfortably exceed the partition count (here 128
    // salts over 32 partitions): with only ~parts salts, birthday
    // collisions of hot (key,salt) buckets re-create lumps
    import graft.ops.Skew.{hotKeyDf, maxOverMean}
    val hot = hotKeyDf(spark, 100000L)
    val unsalted = maxOverMean(hot, 32, Seq(col("k")))
    val salted = maxOverMean(hot, 32, Seq(col("k"),
      pmod(monotonically_increasing_id(), lit(128L))))
    assert(unsalted > 5.0, s"synthetic not skewed enough: $unsalted")
    assert(salted < 2.0, s"salting left a pileup: $salted")
  }

  test("expression script stage pushes its WHERE into the parquet scan") { uncached {
    // the point of re-expressing user scripts as SQL expressions: a stage
    // filter reaches the source as a pushed filter — a per-record
    // interpreter could never give Catalyst that visibility
    import graft.pipeline.{Emit, ExprStage}
    val stage = ExprStage(
      emits = Seq(Emit(Seq("doc_id", "n_chars * 2 AS v"))),
      where = Some("n_chars >= 400"))
    val plan = explainFormatted(
      stage.run(Tables.t(spark, TestSession.sf, "documents")))
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(n_chars,400)"),
      s"stage WHERE did not reach the scan:\n$plan")
  }}

  test("contamination check broadcasts the benchmark shingle set") {
    // dd7's scale contract: the benchmark set is the broadcast build side;
    // the corpus side must never shuffle into a sort-merge join against it
    val df = SparkEntry.queries("dd7_contamination")(spark, TestSession.sf)
    val plan = formattedPlan(df)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"benchmark set not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus side sort-merge-joined against the benchmark set:\n$plan")
  }

  test("shard packing never runs a whole-language window over documents") {
    // two-stage packing: the document-level running sum must window on
    // (lang, range) — a window partitioned by lang alone over the corpus is
    // the single-task-per-language scale-killer. The lang-only window is
    // allowed ONLY over the tiny per-range totals (input = an aggregate).
    import graft.functions.TextFunctions
    val docs = Tables.t(spark, TestSession.sf, "documents")
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
    val packed = graft.queries.TextQueries.packShards(docs, rangeSize = 100L)
    // correctness vs the naive single-window reference
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val naive = docs.withColumn("cum", sum(col("n_tokens")).over(w))
    val got = packed.select(col("doc_id").cast("long"), col("cum").cast("long"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exp = naive.select(col("doc_id").cast("long"), col("cum").cast("long"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === exp, "two-stage cum must equal single-window cum")
    // plan shape: every document-level Window partitions by (lang, __rg);
    // the lang-only window sits above a HashAggregate (per-range totals)
    val plan = formattedPlan(packed)
    val windowSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(windowSpecs.nonEmpty, s"no window in plan:\n$plan")
    // NO window spec may mention lang without __rg: the document running sum
    // partitions by (lang, __rg), and even the per-range-totals window orders
    // by __rg — a lang-only spec can only be the forbidden per-language
    // document window
    val langOnly = windowSpecs.filter(s =>
      s.contains("lang") && !s.contains("__rg"))
    assert(windowSpecs.exists(s => s.contains("lang") && s.contains("__rg")),
      s"document running sum must sub-partition by range:\n$plan")
    assert(langOnly.isEmpty,
      s"found a per-language window over documents:\n${langOnly.mkString("\n")}\n$plan")
  }

  test("bm25 keeps df/avgdl as broadcasts and filters terms before the tf aggregate") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("tx15_bm25")(spark, TestSession.sf))
    assert(!plan.contains("CartesianProduct"),
      s"corpus stats crossJoin must broadcast, not product:\n$plan")
    assert("BroadcastExchange".r.findAllIn(plan).size >= 2,
      s"df and corpus stats should both be broadcast back:\n$plan")
    // only matching tokens may reach the tf shuffle
    assert(plan.contains("spark,join,vector") || plan.contains("spark, join, vector"),
      s"term IN-filter missing from the plan:\n$plan")
  } }

  test("pagerank iterations stay equi-join + broadcast — no cartesian product") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("g15_pagerank")(spark, TestSession.sf))
    assert(!plan.contains("CartesianProduct"),
      s"node-count crossJoins must broadcast, not product:\n$plan")
  } }

  test("label propagation rounds are co-keyed equi-joins — no product, no window") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("g16_label_prop")(spark, TestSession.sf))
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
      s"LPA neighbor-label delivery must stay an equi-join:\n$plan")
    assert(!plan.contains("Window"),
      s"per-node argmax must be the min(struct) aggregate, not a window sort:\n$plan")
  } }

  test("segment dedup counts co-key on the segment — no product, no collect-side state") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("tx19_segment_dedup")(spark, TestSession.sf))
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
      s"segment-frequency re-join degenerated:\n$plan")
  } }

  test("NB classifier broadcasts the vocab and the 1-row stats") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("tx21_nb_classifier")(spark, TestSession.sf))
    assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"),
      s"vocab/log-odds should arrive by broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"1-row stat joins must broadcast, not product:\n$plan")
  } }

  test("binned range join plans as an equi-join on (key, bin) — no nested loop") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("j8_range_join")(spark, TestSession.sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join degenerated to a non-equi plan:\n$plan")
    assert(plan.contains("__bin"), s"bin key missing from the join plan:\n$plan")
  } }

  test("bloom prune evaluates scan-adjacent, before any exchange") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("bf1_bloom_prune")(spark, TestSession.sf))
    // the bloom membership UDF must land in the LINEITEM (probe) scan's
    // data filters (pre-shuffle), not after the semi-join and not on the
    // build side — no fallback: if the plan format stops carrying both on
    // one line, this must fail loudly, not silently weaken
    val scanLine = plan.linesIterator
      .find(l => l.contains("lineitem.parquet") && l.contains("DataFilters"))
      .getOrElse(fail(s"no lineitem scan DataFilters line in:\n$plan"))
    assert(scanLine.contains("UDF"),
      s"bloom filter not on the probe scan:\n$scanLine")
  } }

  test("chunk dedup aggregates map-side before the shuffle (partial min)") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("dd13_chunk_dedup")(spark, TestSession.sf))
    assert(plan.contains("partial_min"),
      s"no map-side partial aggregation in:\n$plan")
  } }

  test("triangle counting is all equi-joins — no cartesian wedge product") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("g10_triangle_count")(spark, TestSession.sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"triangle count fell into a product plan:\n$plan")
  } }

  test("edit-distance join blocks on grams — no all-pairs product") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("ed1_editdist_join")(spark, TestSession.sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"edit-distance join degenerated to a product plan:\n$plan")
  } }

  test("degree-oriented triangle path stays equi-join through re-orientation") { uncached {
    // the degree agg + (d, id) re-canonicalization adds two joins before
    // wedge enumeration; none of them may degrade to a product plan
    val plan = formattedPlan(
      SparkEntry.queries("g11_triangle_degree")(spark, TestSession.sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"degree-oriented triangle count fell into a product plan:\n$plan")
  } }

  test("overlap join and interval-overlap join stay equi-joins — no product") { uncached {
    // ss1's candidate generation joins prefix elements, j9 joins (key, bin):
    // neither may fall back to a nested-loop/cartesian even though their
    // logical predicates look like similarity/range conditions
    for (q <- Seq("ss1_overlap_join", "j9_interval_overlap")) {
      val plan = formattedPlan(SparkEntry.queries(q)(spark, TestSession.sf))
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$q degenerated to a product plan:\n$plan")
    }
    // ...and ss1's VERIFY is the merge-intersection expression on the
    // candidate pair, not a per-element explode/join/count: the plan must
    // carry sortedoverlap and must NOT re-aggregate per (id_a, id_b) after
    // the candidate distinct (exactly one count-shaped aggregate pair
    // belongs to the candidates' distinct; the old verify added a second)
    val p = formattedPlan(
      SparkEntry.queries("ss1_overlap_join")(spark, TestSession.sf))
    assert(p.toLowerCase.contains("sortedoverlap"),
      s"verify no longer uses the merge-intersection expression:\n$p")
  } }

  test("ann11 IVF-PQ: probed-cell equi-join, no product; codes never re-derive") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("ann11_ivfpq")(spark, TestSession.sf))
    assert(!plan.contains("CartesianProduct"),
      s"IVF-PQ fell into a product plan:\n$plan")
    // the code scan joins the broadcast probed-query side on the CELL key
    assert(plan.contains("BroadcastHashJoin"),
      s"probed-cell scan should broadcast the query side:\n$plan")
  } }

  test("batch sessionize shares one (key, ts) exchange across windows + agg") { uncached {
    // both window functions sort on (user_id, tus) and the session agg
    // groups on a (user_id, __sid) superset — exactly ONE hash exchange on
    // user_id may appear (plus the final orderBy's range exchange); a
    // second hash exchange would mean the agg re-shuffled
    val plan = formattedPlan(
      SparkEntry.queries("ses1_sessionize_batch")(spark, TestSession.sf))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected a single hash exchange in batch sessionize, got $hashExchanges:\n$plan")
  } }

  test("funnel, local clustering, and diff-apply stay equi-joins — no product") { uncached {
    // fn1 chains three co-keyed joins, g14 enumerates wedges + closes +
    // explodes, cdc2 composes a full-outer diff with a full-outer merge:
    // none of these may degrade to a nested-loop/cartesian
    for (q <- Seq("fn1_funnel", "g14_local_clustering", "cdc2_diff_apply")) {
      val plan = formattedPlan(SparkEntry.queries(q)(spark, TestSession.sf))
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$q degenerated to a product plan:\n$plan")
    }
  } }

  test("graph lifecycle prunes the lineitem scan to the edge columns") { uncached {
    // g9 stacks decompose → mergeVertices → resolveEdges → mergeEdges; the
    // mapGroups merge is a deserialization barrier, but column pruning must
    // still reach the lineitem scan below it — at 100 TB, reading l_comment
    // for a 4-column edge extraction is the difference between a narrow scan
    // and 3× the I/O
    val plan = explainFormatted(
      SparkEntry.queries("g9_graph_lifecycle")(spark, TestSession.sf))
    val liChunk = plan.split("Scan parquet")
      .find(_.contains("lineitem")).getOrElse("")
    val rs = liChunk.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("l_quantity") && rs.contains("l_extendedprice"),
      s"expected edge columns in lineitem ReadSchema: $rs")
    for (c <- Seq("l_comment", "l_shipdate", "l_tax", "l_discount"))
      assert(!rs.contains(c), s"unpruned column $c in lineitem scan: $rs")
  }}

  test("bigram-LM scoring: model tables arrive by join, vocab size by 1-row broadcast, no product") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("tx25_bigram_lm")(spark, TestSession.sf))
    assert(!plan.contains("CartesianProduct"),
      s"LM scoring must never product:\n$plan")
    // the 1-row vocab-size side rides a broadcast (nested-loop on 1 row is
    // the intended cross-join shape; a CartesianProduct is not)
    assert(plan.contains("Broadcast"), s"expected broadcast sides:\n$plan")
  } }

  test("TF-IDF keywords: df re-join co-keys on the token — no product") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("tx26_tfidf_keywords")(spark, TestSession.sf))
    assert(!plan.contains("CartesianProduct"), s"tf×df degenerated:\n$plan")
  } }

  test("domain cap: one exchange on the host key feeds the per-domain window") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("pp6_domain_cap")(spark, TestSession.sf))
    assert(plan.contains("Window"), s"expected per-host window:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"unexpected product:\n$plan")
  } }

  test("embedding standardization: per-dim stats broadcast back, dims pruned before the agg") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("fe1_embed_standardize")(spark, TestSession.sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"stats should re-join by broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected product:\n$plan")
  } }

  test("Adamic-Adar: wedge join and adjacency anti-join stay equi-joins — no product") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("g19_adamic_adar")(spark, TestSession.sf))
    assert(!plan.contains("CartesianProduct"),
      s"wedge/anti-join degenerated to a product:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected adjacency anti-join:\n$plan")
  } }

  test("CMS sketch: counter table aggregates map-side before its shuffle (partial_count)") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("approx4_countmin")(spark, TestSession.sf))
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"sketch counters must combine map-side:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected product:\n$plan")
  } }

  test("proximity search: term postings filter before the doc_id equi-join") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("idx8_proximity")(spark, TestSession.sf))
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
      s"NEAR query degenerated to a non-equi plan:\n$plan")
    // both single-term postings must be filtered below the join (the range
    // |p1-p2|<=5 runs on joined pairs, but the token equality must not)
    assert(plan.contains("spark") && plan.contains("join"),
      s"term filters missing from the plan:\n$plan")
  } }

  test("MAD outliers: both percentile re-joins broadcast (|types|-row dims)") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("dq12_mad_outliers")(spark, TestSession.sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"median and MAD thresholds should both re-join by broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected product:\n$plan")
  } }

  test("KMV sketch: top_k heap aggregates map-side (partial ObjectHashAggregate)") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("approx8_kmv")(spark, TestSession.sf))
    assert(plan.contains("ObjectHashAggregate"),
      s"TypedImperativeAggregate must run in ObjectHashAggregateExec:\n$plan")
    // two phases: a partial pass before the exchange caps per-partition
    // contributions at k per key
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"no map-side partial heap pass:\n$plan")
  } }

  test("percolation: the whole registry fuses into ONE scan — no join, no per-query pass") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("perc1_percolate")(spark, TestSession.sf))
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"stored-query matching must be one fused projection over one scan:\n$plan")
    assert(!plan.contains("Join"), s"no query-table join should exist:\n$plan")
  } }

  test("sequence patterns: one sort-free aggregate per user, no window re-sort") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("ses3_pattern_match")(spark, TestSession.sf))
    assert(!plan.contains("Window"),
      s"the (ts,id) order must come from array_sort, not a window sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected product:\n$plan")
  } }

  test("exact AUC: unpartitioned windows run only over the numPartitions-row offsets table") { uncached {
    val df = SparkEntry.queries("tx35_logreg_auc")(spark, TestSession.sf)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case other => other
    }
    val wins = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, s"expected the rank-decomposition windows:\n$plan")
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      // the only legal unpartitioned window is the per-partition-offset
      // cumsum, whose input is the groupBy(__pid) aggregate — a
      // numPartitions-row table, never the corpus
      val overOffsets = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.groupingExpressions.exists(_.toString.contains("__pid")) => a
      }
      assert(overOffsets.nonEmpty,
        s"unpartitioned window over a corpus-sized input:\n$w")
    }
    // the per-partition running sum IS partitioned (by __pid)
    assert(wins.exists(_.partitionSpec.nonEmpty),
      s"expected the __pid-partitioned local cumsum:\n$plan")
  } }

  test("corpus-by-corpus kNN join: cell equi-join + heap aggregates — no product, no window") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("ann12_knn_join")(spark, TestSession.sf))
    // both sides of the candidate join are corpus-sized: a cartesian here
    // is the n² cliff the cell key exists to prevent (the condition-less
    // joins in the plan are the broadcast CENTROID attaches — tiny side,
    // the fe3/tx25 1-row-broadcast shape — so BroadcastNestedLoopJoin is
    // not blanket-banned)
    assert(!plan.contains("CartesianProduct"),
      s"corpus-sized candidate join degenerated to a product:\n$plan")
    // assignment, probing, and final ranking are all bounded-state
    // aggregates; a Window anywhere means some rank point sorts a
    // corpus-sized (or worse, candidate-sized) row set
    assert(!plan.contains("Window"),
      s"kNN ranking must be the bounded-heap top_k aggregate, not a window:\n$plan")
    // the heap aggregate is a TypedImperativeAggregate → ObjectHashAggregate
    assert(plan.contains("ObjectHashAggregate"),
      s"expected the top_k heap aggregate in the plan:\n$plan")
  } }

  test("pp8 curation pipeline: no product; every documents scan stage-pruned") { uncached {
    val plan = explainFormatted(
      SparkEntry.queries("pp8_curation_pipeline")(spark, TestSession.sf))
    // five chained stages, two corpus-sized join sides (knn edges, the
    // doc-grain semi/anti joins) — a cartesian anywhere is the cliff; the
    // condition-less joins are the 1-row weight/zbar broadcasts (the
    // fe3/tx25 shape)
    assert(!plan.contains("CartesianProduct"),
      s"pp8 degenerated to a product:\n$plan")
    // each stage reads documents through its OWN pruned projection: the
    // mask wants (doc_id, text), the scorer (doc_id, lang, text), the
    // pack join (doc_id, lang) — nothing in the pipeline needs source or
    // n_chars, so any scan carrying them is unpruned I/O (3× the bytes at
    // 100 TB)
    val docScans = plan.split("Scan parquet").toSeq
      .filter(_.contains("documents"))
      .flatMap(_.linesIterator.find(_.contains("ReadSchema")))
    assert(docScans.nonEmpty, s"no documents scans found:\n$plan")
    for (rs <- docScans; c <- Seq("source", "n_chars"))
      assert(!rs.contains(c), s"unpruned column $c in documents scan: $rs")
  } }

  test("ann16 PQ-coded serve: the ADC scan reads codes, never raw vectors " +
      "(column-pruned), and the rerank leg fetches vectors without codes") { uncached {
    import graft.similarity.{IvfCore, KMeans, PqCodec}
    val e = Tables.t(spark, TestSession.sf, "embeddings")
    val cents = KMeans.train(e, "vec_id", "embedding", k = 4, iters = 2)
    val idx = new IvfCore(spark,
      graft.util.Scratch.dir("graft_plan_ann16"), nPartitions = 4,
      PqCodec(m = 8, k = 16))
    idx.build(e, cents)
    val plan = explainFormatted(idx.serve(e.filter(col("vec_id") < 4), cents,
      k = 3, nprobe = 2, rerank = 8))
    // the index store's scans: the ADC leg must carry the code column and
    // NOT the 64-float embedding (PQ's entire memory/IO point — at 100 TB
    // the scan reads ~bytes per vector, not the vector); the rerank leg
    // carries the embedding and must not re-read codes. A scan with both
    // would be the unpruned full-width read.
    val storeScans = plan.split("Scan parquet").toSeq
      .filter(s => s.contains("graft_plan_ann16"))
      .flatMap(_.linesIterator.find(_.contains("ReadSchema")))
    assert(storeScans.nonEmpty, s"no index-store scans found:\n$plan")
    val adcLegs = storeScans.filter(_.contains("code"))
    val rerankLegs = storeScans.filter(_.contains("embedding"))
    assert(adcLegs.nonEmpty, s"no code-column scan found: $storeScans")
    assert(rerankLegs.nonEmpty, s"no vector-fetch scan found: $storeScans")
    adcLegs.foreach(rs => assert(!rs.contains("embedding"),
      s"ADC scan reads raw vectors — column pruning lost: $rs"))
    rerankLegs.foreach(rs => assert(!rs.contains("code"),
      s"rerank scan re-reads codes: $rs"))
    // and no cartesian anywhere in the serve
    assert(!plan.contains("CartesianProduct"), s"ann16 serve product:\n$plan")
  } }

  test("ensemble dedup: both blockers and all four verify joins stay " +
      "equi-joins — no product anywhere") { uncached {
    val plan = formattedPlan(
      SparkEntry.queries("dd22_ensemble_dedup")(spark, TestSession.sf))
    // the band join, the bucket join, and the shingle/vector fetch joins
    // must all plan as hash equi-joins: a blocker degenerating to a
    // product is exactly the all-pairs failure the blockers exist to avoid
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
      s"ensemble dedup degenerated to a product:\n$plan")
  } }
}
