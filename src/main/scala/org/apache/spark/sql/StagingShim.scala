package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Access to the package-private calls that [[graft.util.Stage]] needs. */
object StagingShim {

  /** Rebuild a checkpointed frame's `LogicalRDD` leaf (same RDD and output
    * attributes) with `Statistics(sizeInBytes)` and no inherited constraints — what a
    * parquet scan of the same rows would report. A checkpoint otherwise carries its
    * ORIGIN plan's statistics, which in an iterative pipeline are products over every
    * earlier stage (see [[graft.util.Stage]]).
    *
    * Under adaptive execution the checkpoint records the adaptive wrapper's
    * partitioning and ordering, which are unknown. When the final plan that computed
    * the rows (`origin`'s, which the checkpoint ran) hash-partitions them, the leaf
    * reports that partitioning and its ordering, so a join on the key shuffles and
    * sorts only its other side. A partitioning adaptive execution coalesced stays
    * unknown: carrying it made the Walshaw k=16 supersteps three times slower.
    */
  def withStats(checkpointed: DataFrame, origin: DataFrame, sizeInBytes: BigInt): DataFrame =
    checkpointed.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val session = checkpointed.sparkSession.asInstanceOf[classic.SparkSession]
        val plan = origin.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec if a.isFinalPlan => a.executedPlan
          case p => p
        }
        val (partitioning, ordering) = plan.outputPartitioning match {
          case h: HashPartitioning if (h.references ++ plan.outputOrdering.flatMap(_.references))
              .forall(lr.outputSet.contains) =>
            (h, plan.outputOrdering)
          case _ => (lr.outputPartitioning, lr.outputOrdering)
        }
        classic.Dataset.ofRows(session, lr.copy(outputPartitioning = partitioning,
          outputOrdering = ordering)(session, Some(Statistics(sizeInBytes)), None))
      case other =>
        throw new IllegalArgumentException(
          s"withStats expects a checkpointed frame, got ${other.nodeName}")
    }

  /** Drop an RDD's blocks without `RDD.unpersist`'s per-call warning that a locally
    * checkpointed RDD cannot be recomputed: releasing staged blocks is the normal
    * end of their life, not a hazard.
    */
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
