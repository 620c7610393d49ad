package graft.partition

import org.apache.spark.sql.functions._
import graft.SparkFunSuite
import graft.util.Stage

/** SURVEY P4 — high-degree LP clustering filters (reference
  * `label_propagation.h:106-118`, skip at `:1470`): nodes above
  * `largeDegThreshold` never move; nodes above `maxNumNeighbors` rate a
  * deterministic neighborhood sample.
  */
class HighDegreeFilterSpec extends SparkFunSuite {

  /** Star hub 0 -> leaves 1..40, plus a leaf ring so LP has real moves to make. */
  private def starGraph() = {
    val star = (1L to 40L).map(l => (0L, l, 1L))
    val ring = (1L to 8L).map(i => (i, if (i == 8L) 1L else i + 1L, 1L))
    undirected(star ++ ring)
  }

  test("hub above largeDegThreshold never moves (keeps its own label)") {
    val edges = starGraph()
    val nodeW = graft.graph.Graphs.vertices(edges)
    val labels = Stage.scope(st => DistCoarsener
      .lpCluster(st, spark, edges, nodeW, cap = 1000L, maxIter = 5, seed = 7L,
        largeDegThreshold = 10L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(labels(0L) === 0L, "degree-40 hub must be skipped as a mover")
    // the filter must not break the clustering contract for everyone else
    assert(labels.size === 41)
    val memberOfLabel = labels.groupBy(_._2)
    memberOfLabel.keys.foreach(l => assert(labels.contains(l), s"label $l is not a node"))
  }

  test("without the filter the hub is allowed to move") {
    val edges = starGraph()
    val nodeW = graft.graph.Graphs.vertices(edges)
    val labels = Stage.scope(st => DistCoarsener
      .lpCluster(st, spark, edges, nodeW, cap = 1000L, maxIter = 5, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // the hub's strongest rating is a leaf cluster — unfiltered LP merges it
    assert(labels(0L) != 0L || labels.values.count(_ == 0L) > 1,
      "unfiltered run should involve the hub in some merge")
  }

  test("maxNumNeighbors >= max degree is a no-op (identical labels)") {
    val edges = starGraph()
    val nodeW = graft.graph.Graphs.vertices(edges)
    def run(maxN: Long) = Stage.scope(st => DistCoarsener
      .lpCluster(st, spark, edges, nodeW, cap = 6L, maxIter = 5, seed = 11L,
        maxNumNeighbors = maxN)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(run(Long.MaxValue) === run(1000L))
  }

  test("neighbor sampling yields a valid, repartition-deterministic clustering") {
    val edges = graft.graph.SyntheticGraph.zipfEdges(spark, 500L, avgDeg = 8, seed = 3L)
    val nodeW = graft.graph.Graphs.vertices(edges)
    def run(e: org.apache.spark.sql.DataFrame) = Stage.scope(st => DistCoarsener
      .lpCluster(st, spark, e, nodeW, cap = 40L, maxIter = 5, seed = 13L,
        maxNumNeighbors = 4L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val a = run(edges)
    val b = run(edges.repartition(7))
    assert(a === b, "seeded-hash sampling must be partition-independent")
    // cap respected
    val w = a.groupBy(_._2).view.mapValues(_.size).toMap
    assert(w.values.forall(_ <= 40), s"cluster over cap: ${w.filter(_._2 > 40)}")
  }
}
