package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.Stage

/** Distributed dense ranking — the "rank-compaction join" (SURVEY S9/O5) that mints
  * consecutive ids 0..n-1 for a key column WITHOUT a global single-partition window.
  *
  * Shape: range-repartition the distinct keys (parallel sort), rank *within* each
  * partition (a `Window.partitionBy(partitionId)` — every partition ranks its own
  * slice concurrently), then shift each partition's local ranks by the total count of
  * all earlier partitions. The per-partition count table has at most
  * `spark.sql.shuffle.partitions` rows, so the offset computation is a broadcast
  * nested-loop self-join over a few dozen rows — no global window anywhere in the
  * plan, which `tools.PlanAudit` asserts.
  *
  * The output mapping (key -> rank) equals `row_number() over (order by key) - 1`
  * exactly, independent of where the range boundaries fall, because ranges are
  * totally ordered: rank = |keys in earlier ranges| + local rank.
  *
  * This is the production url->id path at 10^9+ urls (the reference's analog is the
  * mark + prefix-sum dense relabel, `label_propagation.h:272-319`, which is also a
  * per-worker count + exclusive scan).
  */
object Ranks {

  /** The pre-checkpoint ranked plan: (key, _pid, _lrank). Package-visible so
    * PlanAudit/tests can assert its shape (every Window partitioned, no
    * single-partition exchange).
    */
  private[graft] def localRanked(df: DataFrame, key: String): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    df.select(col(key)).distinct()
      .repartitionByRange(parts, col(key))
      .withColumn("_pid", spark_partition_id())
      .withColumn(
        "_lrank",
        row_number().over(Window.partitionBy(col("_pid")).orderBy(col(key))).cast("long") - 1L
      )
  }

  /** (key, rankCol) for every distinct value of `key` in `df`, ranks 0..n-1 ascending. */
  def denseRank(df: DataFrame, key: String, rankCol: String): DataFrame = Stage.scope { st =>
    // write the locally-ranked table ONCE: `_pid`/`_lrank` become frozen data, so
    // the two consumers below (counts + final join) cannot observe different range
    // boundaries from a re-sampled exchange
    val local = st.durable(localRanked(df, key), "rank")
    // per-partition counts: <= `parts` rows; exclusive prefix sum via a tiny
    // broadcast theta self-join (no global window)
    val counts = local.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
    val offsets = counts.as("a")
      .join(broadcast(counts.as("b")), col("b._pid") < col("a._pid"), "left")
      .groupBy(col("a._pid").as("_pid"))
      .agg(coalesce(sum(col("b._cnt")), lit(0L)).as("_off"))
    local
      .join(broadcast(offsets), "_pid")
      .select(col(key), (col("_off") + col("_lrank")).as(rankCol))
  }
}
