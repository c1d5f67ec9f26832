package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of a materialized JOIN view — the join half of
  * the incremental-view-maintenance pair whose aggregate half is
  * [[IncrementalAgg]] (q:cdc4/q:st19). A consumer keeping `V = A ⋈ B`
  * materialized (a denormalized training table, a serving join) must not
  * recompute `A ⋈ B` from scratch when a CDC batch touches a few keys of
  * either side; the standard delta decomposition reconstructs the new
  * view from the old one plus delta-bounded joins:
  *
  * {{{
  * V_new =  V_old  ∖ (rows whose A-key or B-key changed)        (anti-joins)
  *        ∪ ΔA ⋈ B_new                                          (changed A side)
  *        ∪ (A_new ∖ ΔA) ⋈ ΔB                                   (changed B side)
  * }}}
  *
  * where ΔA / ΔB are the post-change rows of the touched keys (an
  * insert/update contributes its new row; a delete contributes nothing —
  * its key only appears in the removal set). The third term excludes
  * ΔA-keyed rows so (ΔA ⋈ ΔB) pairs are produced exactly once, by the
  * second term.
  *
  * Scale shape: every term is a co-keyed equi-join or anti-join; the
  * delta sides are CDC-batch-sized and broadcast, so nothing ever
  * shuffles `A ⋈ B` — per-batch compute is O(|V| + |ΔA|·fanout(B) +
  * |ΔB|·fanout(A)), never O(|A|·|B| / |k|). Like cdc4's rollup, the
  * REWRITE of V is copy-on-write O(|V|) I/O per refresh through
  * BucketStore.rewrite — the same boundary and partitioned-rewrite upgrade
  * path documented in SCALE.md §5 (and shipped for keyed state by
  * [[graft.store.PartitionedStore]], q:cdc6).
  *
  * No reference analog (its stores denormalize at ingest and re-run batch
  * joins); this belongs to the CDC extension family with SnapshotDiff /
  * IncrementalAgg / SCD2.
  */
object IncrementalJoin {

  /** Reconstruct the maintained view after a change batch.
    *
    * @param vOld     materialized `A ⋈ B` carrying BOTH key columns
    *                 (`aKey`, `bKey`) among its columns
    * @param aNew     post-change A (the caller maintains base tables
    *                 however it likes — MERGE, CDC apply, snapshot)
    * @param bNew     post-change B
    * @param aChanged DISTINCT A keys touched by the batch (inserted,
    *                 updated, or deleted), one column named `aKey`
    * @param bChanged DISTINCT B keys touched, one column named `bKey`
    * @param aKey     A's unique key column (present in vOld and aNew)
    * @param bKey     B's unique key column (present in vOld and bNew)
    * @param joinExpr SQL equi-join condition between aNew and bNew
    *                 column names, e.g. `"o_custkey = c_custkey"`
    * @return the new view, schema = aNew.columns ++ bNew.columns as
    *         projected by the caller's inputs (vOld must match)
    */
  def applyDelta(vOld: DataFrame, aNew: DataFrame, bNew: DataFrame,
      aChanged: DataFrame, bChanged: DataFrame,
      aKey: String, bKey: String, joinExpr: String): DataFrame = {
    require(vOld.columns.contains(aKey) && vOld.columns.contains(bKey),
      s"view must carry both key columns $aKey and $bKey")
    require(aChanged.columns.sameElements(Array(aKey)),
      s"aChanged must be exactly one column named $aKey")
    require(bChanged.columns.sameElements(Array(bKey)),
      s"bChanged must be exactly one column named $bKey")
    // overlapping A/B names would pass the A++B check below and only die
    // later as an ambiguous-reference AnalysisException in the rebuild
    // selects — reject at plan time like every other contract violation
    val shared = aNew.columns.toSet & bNew.columns.toSet
    require(shared.isEmpty,
      s"aNew and bNew column sets must be disjoint; shared: $shared")
    val expected = (aNew.columns ++ bNew.columns).toSeq
    require(vOld.columns.toSeq == expected,
      s"view columns ${vOld.columns.toSeq} must equal A++B columns $expected")

    // the delta key sets are CDC-batch-sized: broadcast them so the
    // surviving-rows pass is a scan of V with two broadcast anti-joins
    // (no shuffle of the view). The key columns are RENAMED internally:
    // callers routinely derive the changed-key sets from the same scans
    // as the view/base tables, and a same-lineage `vOld(k) === dak(k)`
    // silently resolves both sides to ONE attribute (Spark's self-join
    // ambiguity) — a trivially-true predicate that would anti-join the
    // entire view away.
    val dakC = "__ij_dak"
    val dbkC = "__ij_dbk"
    Seq(vOld, aNew, bNew).foreach(df =>
      require(!df.columns.contains(dakC) && !df.columns.contains(dbkC),
        s"$dakC/$dbkC are reserved by IncrementalJoin"))
    val dak = broadcast(aChanged.withColumnRenamed(aKey, dakC))
    val dbk = broadcast(bChanged.withColumnRenamed(bKey, dbkC))
    val survivors = vOld
      .join(dak, col(aKey) === col(dakC), "left_anti")
      .join(dbk, col(bKey) === col(dbkC), "left_anti")

    val cond = expr(joinExpr)
    // term 2: changed-A rows (post-change values) against the whole new B
    // — the semi-join prunes A to the delta BEFORE the join, and the
    // batch-sized delta side broadcasts, so B never shuffles
    val deltaA = aNew.join(dak, col(aKey) === col(dakC), "left_semi")
    val term2 = broadcast(deltaA).join(bNew, cond)
    // term 3: unchanged-A rows against changed-B rows; excluding ΔA keys
    // keeps (ΔA ⋈ ΔB) pairs out (term 2 already produced them)
    val keptA = aNew.join(dak, col(aKey) === col(dakC), "left_anti")
    val deltaB = bNew.join(dbk, col(bKey) === col(dbkC), "left_semi")
    val term3 = keptA.join(broadcast(deltaB), cond)

    survivors
      .unionByName(term2.select(expected.map(col): _*))
      .unionByName(term3.select(expected.map(col): _*))
  }
}
