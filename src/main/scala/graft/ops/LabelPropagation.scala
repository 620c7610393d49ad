package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.Stage

/** Label-propagation community detection — the reference's LP clustering kernel
  * (`/root/reference/kaminpar-shm/coarsening/clustering/lp_clusterer.cc` over the
  * generic framework `label_propagation.h:330-368`) without the cluster-weight cap:
  * per node, gather `rating[label(v)] += w(u,v)` over neighbors and adopt the argmax
  * label (SURVEY.md O1 minus the cap).
  *
  * BSP recast: one superstep =
  *   labels ⋈ edges (dst side)  →  groupBy(src, neighborLabel) sum(w)   [gather]
  *   →  argmax per src via max_by on a packed (rating, tiebreak) key    [select]
  *
  * Determinism & convergence: synchronous LP oscillates on symmetric structures
  * (2-colorings flip forever), so each superstep only activates the deterministic
  * half of the nodes chosen by a seeded hash of (node, iteration) — the BSP analog of
  * the reference's chunked randomized scheduling (`label_propagation.h:1659-1800`),
  * but reproducible: same seed => identical labels, independent of partitioning.
  * Ties between equal-rating labels break by smaller xxhash64(label, seed) then
  * smaller label — never by partition order.
  */
object LabelPropagation {

  /** @param edges symmetric edge table (src, dst, w)
    * @return (node BIGINT, label BIGINT) community assignment at convergence.
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      maxIter: Int = 20,
      seed: Long = 42L
  ): DataFrame = Stage.scope { st =>
    // the edge projection is staged for the call (a caller's own cache is read once
    // by the staging job and left as it is)
    val (e, _) = st.memory(edges.select(col("src"), col("dst"), col("w")))
    var labels = st.durable(
      e.select(col("src").as("node")).distinct().withColumn("label", col("node")),
      "lp-labels")

    var it = 0
    // converged only after TWO consecutive zero-move rounds: each round activates only
    // half the nodes, so a single quiet round doesn't cover everyone.
    var quietRounds = 0
    while (it < maxIter && quietRounds < 2) {
      // active half: hash parity alternating with the iteration — deterministic across
      // runs and partition counts, decorrelates neighboring simultaneous moves, and
      // guarantees every node is active every other round (so two consecutive
      // zero-move rounds == true convergence).
      val parity = pmod(xxhash64(col("node"), lit(seed)) + lit(it), lit(2))
      val active = labels.filter(parity === 0)
      val inactive = labels.filter(parity =!= 0)

      // gather: sum edge weight per (node, neighbor-label)
      val ratings = e
        .join(labels.select(col("node").as("dst"), col("label").as("nl")), "dst")
        .join(active.select(col("node").as("src"), col("label").as("cur")), "src")
        .groupBy(col("src"), col("cur"), col("nl"))
        .agg(sum(col("w")).as("rating"))

      // select: argmax by (rating desc, hash asc, label asc) — packed into a single
      // max_by key to stay one hash aggregation (no window shuffle-sort).
      val best = ratings
        .withColumn("tb", xxhash64(col("nl"), lit(seed)))
        .groupBy(col("src"), col("cur"))
        .agg(
          max_by(
            col("nl"),
            struct(col("rating"), (-col("tb")).as("nh"), (-col("nl")).as("nn"))
          ).as("newLabel")
        )

      val updatedActive = active
        .join(best.select(col("src").as("node"), col("newLabel")), Seq("node"), "left")
        .select(col("node"), coalesce(col("newLabel"), col("label")).as("label"),
          (coalesce(col("newLabel"), col("label")) =!= col("label")).as("moved"))

      // checkpoint WITH the moved flag, then read the count from the checkpoint —
      // one execution of the superstep plan, not two
      val staged = st.durable(
        updatedActive.unionAll(inactive.withColumn("moved", lit(false))),
        "lp-labels")
      val moves = staged.filter(col("moved")).count()
      quietRounds = if (moves == 0L) quietRounds + 1 else 0
      labels = staged.select(col("node"), col("label"))
      it += 1
    }
    labels
  }

  /** Dense-rank relabel: make label ids consecutive 0..c-1 (reference O5,
    * `label_propagation.h:272-319`) via the distributed rank-compaction join
    * ([[graft.graph.Ranks.denseRank]]) — range-partitioned local ranks + offset join,
    * no single-partition window, so relabeling scales with the cluster.
    */
  def denseRelabel(labels: DataFrame, labelCol: String = "label"): DataFrame = {
    val ranked = graft.graph.Ranks.denseRank(labels, labelCol, "newId")
    labels.join(ranked, labelCol).drop(labelCol).withColumnRenamed("newId", labelCol)
  }
}
