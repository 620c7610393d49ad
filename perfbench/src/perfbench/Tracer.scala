package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into the program, with the Spark work each
  * span caused.
  *
  * A span sets the local property [[Tracer.SpanKey]] to its id while it is open, so
  * every job and stage submitted inside it (also from the pool threads of
  * `Par.awaitAll`, which are created inside the call and inherit the property)
  * carries the id. The listener adds jobs, task CPU, GC, shuffle-write and spill
  * bytes and task run times to the tagged span. Per-span figures are inclusive of
  * child spans; self time is left to the report.
  */
final class Tracer(sc: SparkContext, watchDirs: Seq[Path]) extends SparkListener {
  import Tracer._

  private final class Acc {
    var jobs = 0
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var taskCpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private final class Span(val id: Int, val parent: Int, val name: String, val pass: Int,
      val startNs: Long, val startMs: Long, val pinnedAtStart: Long, val ckptAtStart: Long) {
    var endNs = 0L
    var endMs = 0L
    var pinnedAtEnd = 0L
    var ckptAtEnd = 0L
  }

  // span bookkeeping happens on the driver's main thread; listener callbacks on the
  // bus thread — both go through `this`'s monitor
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val accs = mutable.HashMap.empty[Int, Acc]
  private val jobStarts = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageSpans = mutable.HashMap.empty[Int, Int]
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private var windowStart = -1L
  private val jobStartTimes = mutable.ArrayBuffer.empty[Long]
  private var spillTotal = 0L

  /** Open a traced window: jobs started inside one count toward the listener total. */
  def begin(): Unit = synchronized { windowStart = System.currentTimeMillis() }

  def end(): Unit = synchronized {
    windows += ((windowStart, System.currentTimeMillis()))
    windowStart = -1L
  }

  def span[A](name: String, pass: Int)(body: => A): A = {
    val (pinned, ckpt) = (pinnedBlocks(), ckptBytes())
    val s = synchronized {
      val sp = new Span(spans.length, open.headOption.map(_.id).getOrElse(-1), name, pass,
        System.nanoTime(), System.currentTimeMillis(), pinned, ckpt)
      spans += sp
      accs(sp.id) = new Acc
      open = sp :: open
      sp
    }
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.pinnedAtEnd = pinnedBlocks()
      s.ckptAtEnd = ckptBytes()
      synchronized { open = open.tail }
      sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  private def pinnedBlocks(): Long = sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  private def ckptBytes(): Long = watchDirs.filter(Files.isDirectory(_)).map { d =>
    val st = Files.walk(d)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }.sum

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStartTimes += e.time
    spanOf(e.properties).filter(accs.contains).foreach { id =>
      accs(id).jobs += 1
      jobStarts(e.jobId) = (id, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (id, t0) => accs(id).jobIntervals += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).filter(accs.contains).foreach(stageSpans(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      spillTotal += m.diskBytesSpilled
      stageSpans.get(e.stageId).foreach { id =>
        val a = accs(id)
        a.taskCpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  /** Jobs started inside a traced window, tagged or not. */
  def jobsTotal: Int = synchronized {
    jobStartTimes.count(t => windows.exists { case (a, b) => t >= a && t <= b })
  }

  def spillMb: Double = synchronized(spillTotal / MiB)

  /** One record per span with inclusive figures. Call after the bus is drained. */
  def records: Seq[Map[String, Any]] = synchronized {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).toSeq.flatMap(subtree)
    spans.toSeq.map { s =>
      val as = subtree(s).map(x => accs(x.id))
      val busy = unionLength(as.flatMap(_.jobIntervals).map { case (a, b) =>
        (math.max(a, s.startMs), math.min(b, s.endMs))
      })
      val wall = (s.endNs - s.startNs) / 1e9
      Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "pass" -> s.pass,
        "wall_s" -> wall,
        "jobs" -> as.map(_.jobs).sum,
        "task_cpu_s" -> as.map(_.taskCpuNs).sum / 1e9,
        "gc_s" -> as.map(_.gcMs).sum / 1e3,
        "shuffle_mb" -> as.map(_.shuffleBytes).sum / MiB,
        "spill_mb" -> as.map(_.spillBytes).sum / MiB,
        "driver_gap_s" -> math.max(0.0, wall - busy / 1e3),
        "stage_skew" -> stageSkew(as.flatMap(_.stageTaskMs.values)),
        "pinned_blocks" -> (s.pinnedAtEnd - s.pinnedAtStart),
        "ckpt_mb" -> (s.ckptAtEnd - s.ckptAtStart) / MiB)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val MiB = 1024.0 * 1024.0

  /** Skew of the worst stage: max over median task run time. Stages whose longest
    * task ran under [[SkewMinTaskMs]] are too small for the ratio to mean anything
    * and are skipped; 1.0 when no stage qualifies.
    */
  val SkewMinTaskMs = 100L

  def stageSkew(stages: Iterable[Iterable[Long]]): Double =
    stages.map(_.toSeq.sorted).filter(ts => ts.size >= 2 && ts.last >= SkewMinTaskMs)
      .map(ts => ts.last.toDouble / math.max(1L, ts((ts.size - 1) / 2)))
      .foldLeft(1.0)(math.max)

  /** Total length of the union of closed intervals (empty ones ignored). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
