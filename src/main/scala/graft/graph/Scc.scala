package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Strongly connected components of a DIRECTED graph — the coloring /
  * forward-backward-min algorithm (Orzan 2004; Slota, Rajamanickam &
  * Madduri 2014), the standard distributed SCC shape (Tarjan's stack DFS
  * does not parallelize):
  *
  *  1. per node compute `mf` = min id over {self} ∪ ancestors and
  *     `mb` = min id over {self} ∪ descendants (two min-label fixpoints,
  *     one along edges, one against them);
  *  2. `mf(v) == mb(v) == m` proves m reaches v AND v reaches m, so v is
  *     settled into SCC m. Every partition settles at least its own min
  *     node per round (its `mf`/`mb` are both itself), so the outer loop
  *     strictly shrinks;
  *  3. unsettled nodes repartition by the (mf, mb) PAIR: two nodes of one
  *     SCC share ancestor and descendant sets, hence the same pair — so
  *     dropping every edge that crosses pairs never splits an SCC, and
  *     the next round runs on strictly smaller independent subproblems.
  *
  * The min-label fixpoint does per round one edge relaxation (co-keyed
  * equi-join on the source endpoint + map-side-combined min) AND one
  * label pointer-jump (`lbl(v) → lbl(lbl(v))`, sound because the current
  * label is always an ancestor-or-self, and an ancestor's ancestors are
  * the node's ancestors) — the jump collapses length-L chains in O(log L)
  * rounds where plain relaxation needs L. Convergence is detected by the
  * strictly-decreasing label sum (summed as DECIMAL(38,0) so huge id
  * spaces cannot overflow), riding each batch's own materialization as an
  * observed metric — ONE action per batch; the forward and backward
  * fixpoints of a round run as concurrent driver-thread jobs (they share
  * nothing but read-only inputs). Round exhaustion fails loudly — a
  * partial propagation is not an SCC.
  *
  * Scale shape: everything is co-keyed equi-joins on node ids (never a
  * product), per-round lineage truncated via [[graft.ops.IterTrunc]];
  * driver-side state is one decimal per fixpoint round.
  *
  * Reference analog: none — its graph layer stops at merge/dedup (SURVEY
  * §2 J2/D2); SCC joins triangles/PageRank/k-core in the analytics
  * extension surface.
  */
object Scc {

  /** (node, scc_id) for every endpoint of `edges` (directed (u, v) frame);
    * `scc_id` = min node id of the component. */
  def scc(edges: DataFrame, maxOuter: Int = 30, maxHops: Int = 200,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxOuter >= 1 && maxHops >= 1,
      s"maxOuter/maxHops must be >= 1, got $maxOuter/$maxHops")
    val spark = edges.sparkSession
    val trunc = new graft.ops.IterTrunc(spark, checkpointDir, "scc")
    val eChan = trunc.channel()
    val nChan = trunc.channel()
    val aChan = trunc.channel()

    // one channel PAIR per fixpoint direction, allocated once and reused
    // across outer rounds: a fresh pair per minLabels call would leave its
    // final file undeleted every round in parquet-checkpoint mode (a
    // channel only deletes when IT writes again). Reuse is safe because a
    // round's mf/mb outputs are consumed into the eChan/nChan/aChan
    // materializations below before the next round's fixpoints write
    val chansF = Array(trunc.channel(), trunc.channel())
    val chansB = Array(trunc.channel(), trunc.channel())
    var e = eChan(edges.select(col("u"), col("v")).filter(col("u") =!= col("v"))
      .distinct())
    var (nodes, remaining) = graft.ops.IterTrunc.counted(nChan,
      e.select(col("u").as("node"))
        .unionByName(e.select(col("v").as("node"))).distinct())
    var assigned = aChan(nodes.limit(0).withColumn("scc_id", col("node")))
    var outer = 0
    while (remaining > 0 && outer < maxOuter) {
      // the forward and backward fixpoints are INDEPENDENT (same edges,
      // opposite orientation) — run them as concurrent driver-thread jobs
      // (guide §2.6): the backward sweep's stages back-fill the cores the
      // forward sweep's per-batch tail leaves idle. Each sweep owns its
      // channel pair; IterTrunc's checkpoint-path counter is synchronized.
      val curE = e
      val curNodes = nodes
      val mfF = graft.util.Async.future(
        minLabels(curE, curNodes, maxHops, chansF))
      val mb = minLabels(e.select(col("v").as("u"), col("u").as("v")),
        nodes, maxHops, chansB)
      val mf = mfF.join()
      val lab = nodes
        .join(mf.withColumnRenamed("lbl", "mf"), "node")
        .join(mb.withColumnRenamed("lbl", "mb"), "node")
      val done = lab.filter(col("mf") === col("mb"))
        .select(col("node"), col("mf").as("scc_id"))
      assigned = aChan(assigned.unionByName(done))
      val rem = lab.filter(col("mf") =!= col("mb"))
      // remaining-count rides the nodes materialization — one action, not
      // a separate count() job per outer round
      val (nodes2, rem2) = graft.ops.IterTrunc.counted(nChan, rem.select("node"))
      nodes = nodes2
      remaining = rem2
      e = eChan(e
        .join(rem.select(col("node").as("u"), col("mf").as("fu"),
          col("mb").as("bu")), "u")
        .join(rem.select(col("node").as("v"), col("mf").as("fv"),
          col("mb").as("bv")), "v")
        .filter(col("fu") === col("fv") && col("bu") === col("bv"))
        .select("u", "v"))
      outer += 1
    }
    if (remaining > 0) sys.error(
      s"Scc: $remaining nodes unsettled after $maxOuter coloring rounds — " +
        "raise maxOuter; a partial coloring is not an SCC decomposition")
    assigned
  }

  /** Steps per materialization+convergence-check batch: distributed
    * min-propagation is O(diameter) edge-relaxation steps (the same bound
    * as any frontier reachability — the jump term accelerates only when
    * labels happen to form chains, e.g. when ids ascend along a path), so
    * the constant that matters is per-step overhead; unrolling K steps
    * into one plan pays one checkpoint + one driver action per K steps at
    * bounded (φ^K) plan growth. */
  private val StepsPerBatch = 3

  /** Fixpoint of lbl(v) = min({v} ∪ {lbl(u) : u→v ∈ e} ∪ {lblp(lbl(v))})
    * = the min id over {v} ∪ ancestors(v); `lblp` is the previous step's
    * labels (jump soundness: lblp(m) is an ancestor-or-self of m, and an
    * ancestor's ancestors are ancestors). `maxHops` counts BATCHES of
    * [[StepsPerBatch]] steps. */
  private def minLabels(e: DataFrame, nodes: DataFrame, maxHops: Int,
      chans: Array[DataFrame => DataFrame]): DataFrame = {
    // the two channels alternate: a channel deletes ITS previous file when
    // a new one lands, so with labPrev alive one batch behind, the file
    // being deleted is always two batches old — nothing live reads it
    val D = DecimalType(38, 0)
    // the convergence checksum rides each batch's OWN materialization as
    // an observed metric — one action per batch, not two (the separate
    // checksum() job per batch used to double this loop's job count)
    def mat(chan: DataFrame => DataFrame, df: DataFrame)
        : (DataFrame, java.math.BigDecimal) = {
      val (out, m) = graft.ops.IterTrunc.observed(chan, df,
        Seq(sum(col("lbl").cast(D)).as("__cksum")))
      (out, m("__cksum") match {
        case null => java.math.BigDecimal.ZERO
        case s => s.asInstanceOf[java.math.BigDecimal]
      })
    }
    var (lab, cksum) = mat(chans(0), nodes.withColumn("lbl", col("node")))
    var labPrev = lab
    var batches = 0
    var converged = false
    while (!converged && batches < maxHops) {
      var prev = labPrev
      var cur = lab
      for (_ <- 0 until StepsPerBatch) {
        val relaxed = e.join(cur.select(col("node").as("u"), col("lbl")), "u")
          .select(col("v").as("node"), col("lbl"))
        val jumped = cur.select(col("node"), col("lbl").as("__via"))
          .join(prev.select(col("node").as("__via"), col("lbl")), "__via")
          .select(col("node"), col("lbl"))
        val stepped = cur.unionByName(relaxed).unionByName(jumped)
          .groupBy("node").agg(min(col("lbl")).as("lbl"))
        prev = cur
        cur = stepped
      }
      val (next, nextSum) = mat(chans((batches + 1) % 2), cur)
      converged = nextSum == cksum
      labPrev = lab
      lab = next
      cksum = nextSum
      batches += 1
    }
    if (!converged) sys.error(
      s"Scc: min-label fixpoint not reached after $maxHops batches of " +
        s"$StepsPerBatch relaxation steps each — raise maxHops; partial " +
        "labels are not ancestor minima")
    lab
  }

}
