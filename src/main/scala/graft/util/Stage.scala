package graft.util

import org.apache.spark.sql.{DataFrame, StagingShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** The one way the engine cuts a plan and frees what it staged: a staging scope.
  *
  * `Stage.scope { st => … }` opens a scope; inside it
  *  - [[local]] is a lazy local checkpoint: the first job that reads it fills its blocks;
  *  - [[memory]] materializes a table now, in one job, as a flat leaf with fresh
  *    statistics, and returns its row count;
  *  - [[durable]] writes parquet and reads it back — the only table that outlives the
  *    scope;
  *  - [[cache]] persists a table for the scope (a table some caller already cached is
  *    used as it is and left alone);
  *  - [[release]] frees one table's blocks early (a rolling window of supersteps);
  *  - [[scope]] opens a child scope, which closes before its parent.
  * When a scope closes, on return or on throw, it releases every block still
  * registered with it, so a frame that reads a scope's blocks must not leave it. A
  * scope may be used from several threads (e.g. the pool of [[Par.awaitAll]]).
  *
  * Why the statistics must be fresh: a local checkpoint keeps its ORIGIN plan's
  * statistics. In an iterative loop each round's are a product over the previous
  * round's, so the sizeInBytes BigInt grows exponentially in digit count and the
  * optimizer's statistics walks (join selection, runtime filters) slow from
  * microseconds to minutes after ~15 stages. [[memory]] rebuilds the leaf with the
  * bytes it stored; a [[durable]] table gets its file sizes. A [[local]] is for
  * short chains only (one superstep's staging).
  */
final class Stage private () {
  private val owned = mutable.ArrayBuffer.empty[(DataFrame, () => Unit)]
  private var open = true

  /** Lazy local checkpoint of `df`, owned by this scope. */
  def local(df: DataFrame): DataFrame = {
    val staged = df.localCheckpoint(false)
    val rdd = Stage.leafRdd(staged)
    own(staged, () => StagingShim.release(rdd))
  }

  /** Stage `df` in memory: (flat frame with fresh statistics, row count). One job:
    * computing each partition caches it (the checkpoint's storage level) and counts
    * its rows and stored bytes on the way.
    */
  def memory(df: DataFrame): (DataFrame, Long) = {
    val checkpointed = df.localCheckpoint(false)
    val rdd = Stage.leafRdd(checkpointed)
    val otherRowBytes = df.schema.defaultSize.toLong
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
    val staged = own(StagingShim.withStats(checkpointed, BigInt(bytes)), () => StagingShim.release(rdd))
    (staged, perPartition.map(_._1).sum)
  }

  /** Write `df` to parquet under [[Stage.baseDir]] and read it back. */
  def durable(df: DataFrame, tag: String): DataFrame = {
    val path = s"${Stage.baseDir}/$tag-${Stage.counter.incrementAndGet()}"
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Persist `df` for this scope. Use it where a [[local]] would change the plan. */
  def cache(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val cached = df.persist()
      own(cached, () => cached.unpersist(false))
    }

  /** Free `df`'s blocks now, if this scope owns them. */
  def release(df: DataFrame): Unit = {
    val entry = owned.synchronized {
      owned.indexWhere(_._1 eq df) match {
        case -1 => None
        case i => Some(owned.remove(i))
      }
    }
    entry.foreach(_._2())
  }

  /** A child scope: its blocks are released when `body` ends, before this scope's. */
  def scope[A](body: Stage => A): A = Stage.scope(body)

  private def own(df: DataFrame, free: () => Unit): DataFrame = owned.synchronized {
    require(open, "staging into a closed scope")
    owned += ((df, free))
    df
  }

  private def close(): Unit = {
    val all = owned.synchronized {
      open = false
      val a = owned.toList
      owned.clear()
      a
    }
    all.foreach(_._2())
  }
}

object Stage {
  private[graft] lazy val baseDir: String =
    sys.env.getOrElse("GRAFT_CKPT_DIR", Files.createTempDirectory("graft-ckpt").toString)
  private val counter = new AtomicInteger(0)

  private def leafRdd(checkpointed: DataFrame) =
    checkpointed.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd

  /** Run `body` in a fresh scope and release everything it staged at the end. */
  def scope[A](body: Stage => A): A = {
    val st = new Stage
    try body(st)
    finally st.close()
  }
}
