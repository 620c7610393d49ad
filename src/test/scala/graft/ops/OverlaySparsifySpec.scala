package graft.ops

import graft.SparkFunSuite

/** Sparsification of a coarse graph's edges (SURVEY O11), the coarsener's fallback
  * when a level converges above the edge cap.
  */
class OverlaySparsifySpec extends SparkFunSuite {

  test("sparsify keeps the heaviest edges symmetrically within the budget") {
    // 30 undirected edges with weights 1..30
    val raw = (0 until 30).map(i => (i.toLong, (i + 40).toLong, (i + 1).toLong))
    val edges = undirected(raw)
    val kept = graft.partition.DistCoarsener.sparsify(spark, edges, targetM = 20L)
    val rows = kept.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length <= 24 && rows.length >= 16, s"kept ${rows.length} directed edges")
    // symmetric: (a,b) kept iff (b,a) kept
    val set = rows.map(t => (t._1, t._2)).toSet
    assert(set.forall { case (a, b) => set((b, a)) })
    // the heaviest edges survive
    assert(rows.map(_._3).min > 15L, s"kept a light edge: ${rows.map(_._3).min}")
  }
}
