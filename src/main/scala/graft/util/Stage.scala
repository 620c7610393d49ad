package graft.util

import org.apache.spark.sql.{DataFrame, StagingShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.LogicalRDD
import scala.collection.mutable
import scala.util.DynamicVariable

/** In-memory staging: cuts a plan like a parquet [[Ckpt]], without the storage round
  * trip.
  *
  * [[memory]] materializes a frame once (one job) into lineage-truncated
  * MEMORY_AND_DISK blocks — a local checkpoint — and returns it as a flat leaf whose
  * statistics are the bytes actually stored. A plain local checkpoint would keep the
  * origin plan's statistics, which grow without bound across stages (see [[Ckpt]]);
  * the reset is what keeps a long chain of stages plannable.
  *
  * [[scoped]] makes every [[Ckpt]] inside its body stage in memory and releases all
  * of those blocks when the body returns or throws. The scope is inherited by
  * threads the body starts (e.g. the pool of [[Par.awaitAll]]). A table that must
  * outlive the scope goes through [[Ckpt.durable]].
  */
object Stage {

  /** Stage `df` in memory: (flat frame with fresh statistics, row count). The
    * caller owns the blocks and releases them with [[Par.releaseLocalCkpt]] once
    * nothing can run a plan that reads them.
    */
  def memory(df: DataFrame): (DataFrame, Long) = {
    val checkpointed = df.localCheckpoint(false)
    val rdd = checkpointed.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    val otherRowBytes = df.schema.defaultSize.toLong
    // the one job: computing each partition caches it (the checkpoint's storage
    // level) and counts its rows and stored bytes on the way
    val perPartition = df.sparkSession.sparkContext.runJob(rdd, (rows: Iterator[InternalRow]) => {
      var n = 0L
      var bytes = 0L
      rows.foreach { r =>
        n += 1
        bytes += (r match {
          case u: UnsafeRow => u.getSizeInBytes.toLong
          case _ => otherRowBytes
        })
      }
      (n, bytes)
    })
    val bytes = math.max(1L, perPartition.map(_._2).sum)
    (StagingShim.withStats(checkpointed, BigInt(bytes)), perPartition.map(_._1).sum)
  }

  private val open = new DynamicVariable[Option[mutable.Buffer[DataFrame]]](None)

  /** Run `body` with every [[Ckpt]] staged in memory; release them all at the end. */
  def scoped[A](body: => A): A = {
    val staged = mutable.ArrayBuffer.empty[DataFrame]
    try open.withValue(Some(staged))(body)
    finally staged.synchronized { staged.foreach(Par.releaseLocalCkpt); staged.clear() }
  }

  /** Inside a scope: stage `df` in memory and register it for release. */
  private[util] def inScope(df: DataFrame): Option[(DataFrame, Long)] =
    open.value.map { staged =>
      val s = memory(df)
      staged.synchronized(staged += s._1)
      s
    }
}
