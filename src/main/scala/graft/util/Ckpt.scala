package graft.util

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Plan cut for iterative state tables: materialize a table and continue from a flat
  * leaf with fresh statistics.
  *
  * Why the statistics must be fresh: Spark's `localCheckpoint` keeps the ORIGIN plan's
  * statistics on the resulting LogicalRDD. In an iterative loop each round's stats are
  * a product over the previous round's stats, so the sizeInBytes BigInt grows
  * exponentially in digit count and optimizer stats walks (join selection,
  * runtime-filter injection) degrade from microseconds to minutes after ~15 stages.
  *
  * Two ways to get there:
  *  - inside a [[Stage.scoped]] block (one `Partitioner.computePartition` call), the
  *    table is staged in memory by [[Stage.memory]], whose leaf statistics are the
  *    stored bytes; the scope releases the blocks when it closes;
  *  - everywhere else (ops, graph, probes, tests), and through [[durable]] always, it
  *    is written to parquet and read back, which resets the statistics to the file
  *    sizes and leaves a table that outlives the call.
  */
object Ckpt {
  private[graft] lazy val baseDir: String =
    sys.env.getOrElse(
      "GRAFT_CKPT_DIR",
      Files.createTempDirectory("graft-ckpt").toString
    )
  private val counter = new AtomicInteger(0)

  /** Cut `df`: in memory inside a [[Stage.scoped]] block, on parquet otherwise. */
  def apply(df: DataFrame, tag: String = "state"): DataFrame =
    Stage.inScope(df).fold(durable(df, tag))(_._1)

  /** [[apply]] plus the row count, which the cut computes on the way. */
  def counted(df: DataFrame, tag: String): (DataFrame, Long) =
    Stage.inScope(df).getOrElse {
      val obs = Observation()
      val out = durable(df.observe(obs, count(lit(1)).as("c")), tag)
      (out, obs.get("c").asInstanceOf[Number].longValue)
    }

  /** Write df to parquet and read it back, inside a scope or not. */
  def durable(df: DataFrame, tag: String): DataFrame = {
    val path = s"$baseDir/$tag-${counter.incrementAndGet()}"
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }
}
