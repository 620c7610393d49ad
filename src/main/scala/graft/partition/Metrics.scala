package graft.partition

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Stage

/** Partition metrics M1-M6 (reference `/root/reference/kaminpar-shm/metrics.cc` and
  * the distributed variants `kaminpar-dist/metrics.cc:19-60`).
  *
  * `edgeCut` is two hash joins of the (small) partition table against the edge table
  * plus one aggregation — at scale the partition side is broadcast when it fits, and
  * both joins co-partition on node id otherwise. All other metrics reduce to the k-row
  * block-weight table, which always collects to the driver (the analog of the
  * reference replicating all k block weights on every PE).
  */
object Metrics {

  /** M1: sum of weights of edges crossing blocks, each undirected edge counted once.
    * `part` = (node, block); `edges` symmetric.
    */
  def edgeCut(edges: DataFrame, part: DataFrame): Long = {
    val p1 = part.select(col("node").as("src"), col("block").as("srcBlock"))
    val p2 = part.select(col("node").as("dst"), col("block").as("dstBlock"))
    val cutRow = edges
      .join(p1, "src")
      .join(p2, "dst")
      .filter(col("srcBlock") =!= col("dstBlock"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("c"))
      .first()
    val c = cutRow.getLong(0)
    assert(c % 2 == 0, s"cut sum over symmetric edges must be even, got $c")
    c / 2
  }

  /** M5: per-block weight table (k rows). `nodeW` = (node, weight). */
  def blockWeights(part: DataFrame, nodeW: DataFrame, k: Int): Array[Long] =
    blockWeightsW(part.join(nodeW, "node"), k)

  /** [[blockWeights]] over an already-weighted (node, block, weight) table — the
    * refiners' entry tables carry the weight column, so re-joining nodeW (at bench
    * scale: recomputing the distinct-endpoint node set a second time) is wasted
    * work (r06).
    */
  def blockWeightsW(partW: DataFrame, k: Int): Array[Long] = {
    val rows = partW
      .groupBy(col("block"))
      .agg(sum(col("weight")).as("weight"))
      .collect()
    val w = new Array[Long](k)
    rows.foreach(r => w(r.getAs[Number]("block").intValue()) = r.getAs[Long]("weight"))
    w
  }

  /** [[blockWeightsW]] of a (node, block, weight) table, folded by the job that
    * stages it.
    */
  def blockWeightFold(partW: DataFrame, k: Int): Stage.Fold[Array[Long]] = {
    val (block, weight) = (Stage.field(partW, "block"), Stage.field(partW, "weight"))
    Stage.fold(() => new Array[Long](k)) { (w, row) =>
      w(block(row).toInt) += weight(row)
      w
    } { (a, b) =>
      var i = 0
      while (i < k) { a(i) += b(i); i += 1 }
      a
    }
  }

  /** M2: max_b weight(b) / ceil(W/k) - 1. */
  def imbalance(blockW: Array[Long]): Double = {
    val total = blockW.sum
    val perfect = math.ceil(total.toDouble / blockW.length)
    blockW.max / perfect - 1.0
  }

  /** M4: all blocks within the cap. */
  def isBalanced(blockW: Array[Long], lmax: Long): Boolean =
    blockW.forall(_ <= lmax)

  /** M4 with per-block caps (deep-MGP extension: cap(b) = fk(b) * Lmax). */
  def isBalanced(blockW: Array[Long], caps: Array[Long]): Boolean =
    blockW.indices.forall(b => blockW(b) <= caps(b))
}
