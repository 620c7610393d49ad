package graft.util

import org.apache.spark.sql.{DataFrame, StagingShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{IntegerType, LongType}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** The one way the engine cuts a plan and frees what it staged: a staging scope.
  *
  * `Stage.scope { st => … }` opens a scope; inside it
  *  - [[memory]] materializes a table now, in one job, as a flat leaf with fresh
  *    statistics, and returns its row count — and, given a [[Stage.Fold]], a value
  *    folded over the staged rows by that same job;
  *  - [[durable]] writes parquet and reads it back — the only table that outlives the
  *    scope;
  *  - [[release]] frees one table's blocks early (a rolling window of supersteps);
  *  - [[scope]] opens a child scope, which closes before its parent.
  * When a scope closes, on return or on throw, it releases every block still
  * registered with it, so a frame that reads a scope's blocks must not leave it. A
  * scope may be used from several threads (e.g. the pool of [[Par.awaitAll]]).
  *
  * So a table lives in one of two forms: in memory for the scope, or durable parquet.
  * There is no lazy persist. A persisted table keeps its origin plan's statistics,
  * fills its blocks in whichever job first reads it, and silently shares a caller's
  * cache of the same plan, so each call site would carry a choice between two plan
  * semantics. A memory stage costs the same one pass over the rows, keeps a
  * [[Stage.byKey]] layout (a join on the key shuffles and sorts only its other side),
  * and folds the counts that would otherwise take one more aggregate job. Measured
  * on 4 cores when the last persists became memory stages (medians of 8 pairs): the
  * Walshaw k=16 pass 13.64 -> 13.86 s, the link-graph pass 24.11 -> 22.70 s, peak
  * RSS 1751 -> 1644 and 1962 -> 1926 MB, and 111 jobs per cold partition call.
  *
  * Why staging is eager and the statistics fresh: a local checkpoint keeps its ORIGIN
  * plan's statistics. In an iterative loop each round's are a product over the
  * previous round's, so the sizeInBytes BigInt grows exponentially in digit count and
  * the optimizer's statistics walks slow from microseconds to minutes after ~15
  * stages. Long before that, the inflated estimates change the plans: Catalyst
  * injects runtime bloom filters (1 MiB each, shipped in every task binary) into joins
  * whose sides it believes huge, and AQE shuffles join sides and then re-plans them as
  * broadcasts once it sees their real size. [[memory]] rebuilds the leaf with the bytes
  * it stored, so a superstep's next query is planned from true sizes; a [[durable]]
  * table gets its file sizes. Staging eagerly also means a superstep's counters (moves,
  * deltas, contention) come from the staging job itself through a [[Stage.Fold]], not
  * from one more aggregate over the staged table.
  */
final class Stage private () {
  private val owned = mutable.ArrayBuffer.empty[(DataFrame, () => Unit)]
  private var open = true

  /** Stage `df` in memory: (flat frame with fresh statistics, row count). */
  def memory(df: DataFrame): (DataFrame, Long) = {
    val (staged, rows, _) = memory(df, Stage.NoFold)
    (staged, rows)
  }

  /** Stage `df` in memory: (flat frame with fresh statistics, row count, `fold`'s
    * value over the rows). One job: computing each partition caches it (the
    * checkpoint's storage level) and counts its rows and stored bytes and folds them
    * on the way; the driver merges the partitions' folds.
    */
  def memory[A](df: DataFrame, fold: Stage.Fold[A]): (DataFrame, Long, A) = {
    val checkpointed = df.localCheckpoint(false)
    val rdd = Stage.leafRdd(checkpointed)
    val otherRowBytes = df.schema.defaultSize.toLong
    val perPartition = df.sparkSession.sparkContext.runJob(rdd, (rows: Iterator[InternalRow]) => {
      var n = 0L
      var bytes = 0L
      var acc = fold.zero()
      rows.foreach { r =>
        n += 1
        bytes += (r match {
          case u: UnsafeRow => u.getSizeInBytes.toLong
          case _ => otherRowBytes
        })
        acc = fold.add(acc, r)
      }
      (n, bytes, acc)
    })
    val bytes = math.max(1L, perPartition.map(_._2).sum)
    val staged =
      own(StagingShim.withStats(checkpointed, df, BigInt(bytes)), () => StagingShim.release(rdd))
    val folded = perPartition.iterator.map(_._3).foldLeft(fold.zero())(fold.merge)
    (staged, perPartition.map(_._1).sum, folded)
  }

  /** Write `df` to parquet under [[Stage.baseDir]] and read it back with the schema
    * just written, so no job infers it from the files.
    */
  def durable(df: DataFrame, tag: String): DataFrame = {
    val path = s"${Stage.baseDir}/$tag-${Stage.counter.incrementAndGet()}"
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
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

  /** A fold of staged rows into a small driver-side value: `add` runs over each
    * partition's rows on the executors as the staging job caches them, from a fresh
    * `zero()` per partition, and `merge` combines the partitions' values on the driver
    * in no fixed order, so it must be commutative and associative (sums and maxima of
    * longs are).
    */
  final class Fold[A] private[Stage] (val zero: () => A, val add: (A, InternalRow) => A,
      val merge: (A, A) => A) extends Serializable

  /** A [[Fold]], its element type inferred from `zero`. */
  def fold[A](zero: () => A)(add: (A, InternalRow) => A)(merge: (A, A) => A): Fold[A] =
    new Fold(zero, add, merge)

  /** Per value of an INT or BIGINT `key` column: `of` each row with that key, combined
    * by `op` (commutative and associative).
    */
  def foldByKey[V](df: DataFrame, key: String)(of: InternalRow => V)(
      op: (V, V) => V): Fold[Map[Int, V]] = {
    val k = field(df, key)
    def put(m: Map[Int, V], g: Int, v: V) = m.updated(g, m.get(g).fold(v)(op(_, v)))
    fold(() => Map.empty[Int, V])((m, row) => put(m, k(row).toInt, of(row)))(
      (a, b) => b.foldLeft(a) { case (m, (g, v)) => put(m, g, v) })
  }

  private val NoFold: Fold[Unit] = fold(() => ())((_, _) => ())((_, _) => ())

  /** A nullable INT or BIGINT column of the rows `df` stages, read as a long. */
  final case class LongField(ordinal: Int, isInt: Boolean) {
    def isNull(row: InternalRow): Boolean = row.isNullAt(ordinal)
    def apply(row: InternalRow): Long =
      if (isInt) row.getInt(ordinal).toLong else row.getLong(ordinal)
  }

  def field(df: DataFrame, name: String): LongField = {
    val i = df.schema.fieldIndex(name)
    df.schema(i).dataType match {
      case IntegerType => LongField(i, isInt = true)
      case LongType => LongField(i, isInt = false)
      case t => throw new IllegalArgumentException(s"column $name is $t, not INT or BIGINT")
    }
  }

  /** `df` hash-partitioned by `keys` into `spark.sql.shuffle.partitions` partitions
    * and sorted by them within each: the layout a join on `keys` asks for. A
    * [[Stage.memory]] stage of it keeps both, so every later join on `keys` shuffles
    * and sorts only its other side. The partition count is explicit because adaptive
    * execution may coalesce a repartition by columns alone, and a coalesced table no
    * longer lines up with the other side's shuffle.
    */
  def byKey(df: DataFrame, keys: String*): DataFrame = {
    val cols = keys.map(org.apache.spark.sql.functions.col)
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, cols: _*)
      .sortWithinPartitions(cols: _*)
  }

  /** Run `body` in a fresh scope and release everything it staged at the end. */
  def scope[A](body: Stage => A): A = {
    val st = new Stage
    try body(st)
    finally st.close()
  }
}
