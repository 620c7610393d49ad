package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-run state shared with the workloads: timed calls, untimed checks, spans. */
final class Ctx(val spark: SparkSession, val seed: Long, val inputDir: Path, val runDir: Path,
    val tracer: Option[Tracer]) {
  var pass = -1
  var traced = false
  val calls = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(Int, String, String, Boolean)]
  val failedOps = mutable.LinkedHashSet.empty[(Int, String)]
  val errors = mutable.ArrayBuffer.empty[(Int, String, String)]
  private val standalone = mutable.HashSet.empty[(Int, String)]
  var attempted = 0

  /** One operation: timed, and traced as a span in a traced pass. */
  def call[A](name: String)(body: => A): A = {
    attempted += 1
    val t0 = System.nanoTime()
    try tracer.filter(_ => traced).fold(body)(_.span(name, pass)(body))
    catch {
      case e: Throwable =>
        failedOps += ((pass, name))
        errors += ((pass, name, e.toString))
        throw e
    }
    finally calls(name) = (System.nanoTime() - t0) / 1e9
  }

  /** Untimed output check of operation `op`; a failed check fails the operation. */
  def check(op: String, what: String)(ok: => Boolean): Unit = {
    val res = try ok catch { case e: Exception => System.err.println(s"perfbench: check error: $e"); false }
    checks += ((pass, op, what, res))
    // a check of no timed call (e.g. the trace's job accounting) is an operation too
    if (!calls.contains(op) && standalone.add((pass, op))) attempted += 1
    if (!res) failedOps += ((pass, op))
  }
}

/** Runs one workload in this JVM and writes `result.json` (and, traced, `spans.jsonl`)
  * to `--out`; `perfbench/run.py` builds the classpath, starts this main and turns the
  * raw figures into the reported metrics.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(args("root"))
    val out = Paths.get(args("out"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    graft.util.Log.enabled = false

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val scratch = Paths.get(sys.env("GRAFT_CKPT_DIR")).getParent
    val inputDir = Files.createDirectories(scratch.resolve("input"))
    val runDir = Paths.get(sys.env("GRAFT_RUN_DIR"))
    val tracer = if (trace) Some(new Tracer(spark.sparkContext,
      Seq(Paths.get(sys.env("GRAFT_CKPT_DIR")), runDir))) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, seed, inputDir, runDir, tracer)
    val wl = Workload(args("workload"), root)

    val prepS = (0 until PrepReps).map { _ =>
      val p0 = System.nanoTime()
      wl.prepare(ctx)
      (System.nanoTime() - p0) / 1e9
    }

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var reported = Map.empty[String, Double]
    def runPass(traced: Boolean): Boolean = {
      ctx.pass += 1
      ctx.traced = traced
      ctx.calls.clear()
      System.err.println(s"perfbench: pass ${ctx.pass} begin traced=$traced")
      tracer.filter(_ => traced).foreach(_.begin())
      val ok = try {
        tracer.filter(_ => traced).fold(wl.pass(ctx))(_.span("pass", ctx.pass)(wl.pass(ctx)))
        true
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: pass ${ctx.pass} failed: $e")
          e.printStackTrace()
          false
      }
      tracer.filter(_ => traced).foreach(_.end())
      System.err.println(s"perfbench: pass ${ctx.pass} end")
      if (traced && reported.isEmpty) reported = wl.reported
      passes += Map("pass" -> ctx.pass, "traced" -> traced, "wall_s" -> ctx.calls.values.sum,
        "calls" -> ctx.calls.toMap, "ok" -> ok)
      ok
    }

    if (!trace) {
      // closed loop, one client: passes back to back until `seconds` have elapsed
      val m0 = System.nanoTime()
      while (runPass(traced = false) && (System.nanoTime() - m0) / 1e9 < seconds) ()
    } else if (runPass(traced = true)) {
      // the same first pass as an untraced run, traced; then the layer probes
      ctx.pass += 1
      tracer.get.begin()
      try tracer.get.span("probes", ctx.pass)(wl.probes(ctx))
      catch { case e: Exception => System.err.println(s"perfbench: probes failed: $e") }
      tracer.get.end()
    }

    tracer.foreach { t =>
      org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)
      val records = t.records
      Files.write(out.resolve("spans.jsonl"), records.map(Json.obj).asJava)
      val attributed = records.filter(_("parent") == -1).map(_("jobs").asInstanceOf[Int]).sum
      ctx.check("trace", s"jobs attributed to spans ($attributed) equal the listener total (${t.jobsTotal})")(
        attributed == t.jobsTotal)
    }

    val result = Map(
      "workload" -> args("workload"), "seed" -> seed, "trace" -> trace,
      "setup" -> Map("session_s" -> sessionS, "prep_s" -> prepS),
      "passes" -> passes.toSeq,
      "attempted" -> ctx.attempted, "failed" -> ctx.failedOps.size,
      "checks" -> ctx.checks.toSeq.map { case (p, op, what, ok) =>
        Map("pass" -> p, "op" -> op, "check" -> what, "ok" -> ok) },
      "errors" -> ctx.errors.toSeq.map { case (p, op, e) => Map("pass" -> p, "op" -> op, "error" -> e) },
      "reported" -> reported,
      "trace_totals" -> tracer.fold(Map.empty[String, Any])(t =>
        Map("jobs_total" -> t.jobsTotal, "spill_mb" -> t.spillMb)),
      "peak_rss_mb" -> peakRssMb(),
      "env" -> Map(
        "spark_version" -> spark.version, "cpus" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq))
    spark.stop()
    Files.writeString(out.resolve("result.json"), Json.obj(result))
  }

  val PrepReps = 3

  /** Peak resident set of this JVM (`VmHWM`), MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** Minimal JSON writer for the result files (maps, sequences, strings, numbers). */
object Json {
  def obj(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + obj(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(obj).mkString("[", ",", "]")
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case null => "null"
    case x => x.toString
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
