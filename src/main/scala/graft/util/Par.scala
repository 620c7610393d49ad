package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession, StagingShim}
import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}
import java.util.concurrent.atomic.AtomicLong

/** Small shared utilities for the r06 job-overlap and block-release patterns
  * (previously inlined at each call site).
  */
object Par {
  private val groups = new AtomicLong(0L)

  /** Run independent thunks (typically Spark actions) concurrently on a private
    * fixed pool and await all results — guide §2.6 "overlap independent jobs".
    * Results are positional; callers must only pass order-insensitive work.
    *
    * Fails fast: the first thunk to throw rethrows its exception at once, and the
    * Spark jobs its siblings are still running are cancelled through the job group
    * all of them run under.
    */
  def awaitAll[A](thunks: Seq[() => A]): Seq[A] = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val group = s"graft-par-${groups.incrementAndGet()}"
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(thunks.size, Runtime.getRuntime.availableProcessors())))
    val done = new ExecutorCompletionService[(Int, A)](pool)
    try {
      thunks.zipWithIndex.foreach { case (t, i) =>
        done.submit { () =>
          sc.foreach(_.setJobGroup(group, "Par.awaitAll", interruptOnCancel = true))
          (i, t())
        }
      }
      val out = new Array[Any](thunks.size)
      thunks.indices.foreach { _ =>
        try {
          val (i, a) = done.take().get()
          out(i) = a
        } catch {
          case e: ExecutionException =>
            sc.foreach(_.cancelJobGroup(group))
            throw e.getCause
        }
      }
      out.toSeq.asInstanceOf[Seq[A]]
    } finally pool.shutdownNow()
  }

  /** Unpersist the RDD blocks behind a `localCheckpoint` staging table, quietly.
    * Only call once nothing can re-execute a plan referencing them (their
    * lineage is truncated, so an evicted block cannot be recomputed).
    */
  def releaseLocalCkpt(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => StagingShim.release(lr.rdd)
      case _ =>
    }
}
