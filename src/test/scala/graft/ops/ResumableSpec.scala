package graft.ops

import graft.SparkFunSuite
import graft.util.RunCheckpoint
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Resumable-convergence contract (north rule): an interrupted run continues from the
  * latest committed superstep and yields EXACTLY the same result as an uninterrupted
  * one; per-superstep metrics rows land in metrics.jsonl.
  */
class ResumableSpec extends SparkFunSuite {
  test("pagerank resumes from the latest checkpoint with identical results") {
    val und = (0L until 30L).map(i => (i, (i + 1) % 30)) ++ Seq((0L, 15L), (7L, 22L))
    val edges = undirectedUnit(und)
    val root = Files.createTempDirectory("graft-resume-test").toString

    // reference: fresh uninterrupted 8-iteration run
    val fresh = PageRank.run(spark, edges, iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // interrupted: 3 supersteps, then a NEW invocation (fresh RunCheckpoint handle,
    // same run dir) asked for 8 — must resume at 4, not recompute 1-3
    val runA = RunCheckpoint("job1", root)
    PageRank.runResumable(spark, edges, iterations = 3, runA)
    assert(runA.latestStep === Some(3))

    val runB = RunCheckpoint("job1", root)
    val resumed = PageRank.runResumable(spark, edges, iterations = 8, runB)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(runB.isDone)
    assert(runB.latestStep === Some(8))

    fresh.foreach { case (node, pr) =>
      assert(math.abs(resumed(node) - pr) < 1e-12, s"node $node: $pr vs ${resumed(node)}")
    }

    // metrics: 8 rows total (3 + 5), no recomputation of the first three supersteps
    val lines = runB.metricsLines
    assert(lines.size === 8, s"expected 8 metrics rows, got:\n${lines.mkString("\n")}")
    assert(lines.head.contains("\"superstep\":1") && lines.last.contains("\"superstep\":8"))
    assert(lines.forall(_.contains("l1_delta")))

    // resuming a DONE run is a no-op returning the final state
    val runC = RunCheckpoint("job1", root)
    val again = PageRank.runResumable(spark, edges, iterations = 8, runC)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again === resumed)
  }

  test("a resumed run past checkpointEvery equals run, with one metrics row per superstep") {
    val und = (0L until 30L).map(i => (i, (i + 1) % 30)) ++ Seq((0L, 15L), (7L, 22L))
    val edges = undirectedUnit(und)
    val root = Files.createTempDirectory("graft-resume-past-cut").toString
    // run cuts its lineage after superstep 8 (default checkpointEvery) and goes on
    val fresh = PageRank.run(spark, edges, iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    PageRank.runResumable(spark, edges, iterations = 3, RunCheckpoint("job2", root))
    val run = RunCheckpoint("job2", root)
    val resumed = PageRank.runResumable(spark, edges, iterations = 10, run)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(run.isDone && run.latestStep === Some(10))
    assert(resumed.keySet === fresh.keySet)
    fresh.foreach { case (node, pr) =>
      assert(math.abs(resumed(node) - pr) < 1e-12, s"node $node: $pr vs ${resumed(node)}")
    }
    val lines = run.metricsLines
    assert(lines.size === 10, s"expected 10 metrics rows, got:\n${lines.mkString("\n")}")
    assert(lines.last.contains("\"superstep\":10"))
  }
}
