package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** Access to the two package-private calls that [[graft.util.Stage]] needs. */
object StagingShim {

  /** Rebuild a checkpointed frame's `LogicalRDD` leaf (same RDD, output attributes,
    * partitioning and ordering) with `Statistics(sizeInBytes)` and no inherited
    * constraints — what a parquet scan of the same rows would report. A checkpoint
    * otherwise carries its ORIGIN plan's statistics, which in an iterative pipeline
    * are products over every earlier stage (see [[graft.util.Ckpt]]).
    */
  def withStats(checkpointed: DataFrame, sizeInBytes: BigInt): DataFrame =
    checkpointed.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val session = checkpointed.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session, lr.copy()(session, Some(Statistics(sizeInBytes)), None))
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
