package graft.partition

import graft.model.CsrGraph
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The 2-way FM pass ([[SeqPartitioner.fmRefine]]) on a block pair's region of a
  * larger graph, with the fixed exterior entering as attachments — the way the
  * distributed pairwise FM calls it — and without attachments, the way the driver's
  * bisections call it. Pure driver kernel: no Spark session needed.
  */
class FmRefineSpec extends AnyFunSuite {

  /** Random connected weighted graph: a spanning path plus `extra` random edges. */
  private def randomGraph(n: Int, extra: Int, rnd: Random): CsrGraph = {
    val es = (1 until n).map(u => (u - 1, u)) ++
      Seq.fill(extra)((rnd.nextInt(n), rnd.nextInt(n))).filter { case (a, b) => a != b }
    val weighted = es.distinct.map { case (a, b) => (a, b, 1L + rnd.nextInt(4)) }
    val both = weighted.flatMap { case (a, b, w) => Seq((a.toLong, b.toLong, w), (b.toLong, a.toLong, w)) }
    CsrGraph.fromEdges(n, both.toArray, Array.fill(n)(1L + rnd.nextInt(3)))
  }

  private def blockWeight(g: CsrGraph, part: Array[Int], b: Int): Long =
    (0 until g.n).filter(part(_) == b).map(g.vwgt(_)).sum

  /** The region of pair (a, b) in `part` as the distributed path builds it: the
    * region subgraph, its ids in `g`, the starting sides, and the attachments.
    */
  private final class Region(
      val sub: CsrGraph, val ids: Array[Int], val side: Array[Int],
      val ext0: Array[Long], val ext1: Array[Long], val fixed0: Long, val fixed1: Long)

  private def region(g: CsrGraph, part: Array[Int], a: Int, b: Int, members: Array[Int]): Region = {
    val idOf = members.zipWithIndex.toMap
    val internal = for {
      u <- members; i <- g.xadj(u) until g.xadj(u + 1); v = g.adjncy(i) if idOf.contains(v)
    } yield (idOf(u).toLong, idOf(v).toLong, g.adjwgt(i))
    val sub = CsrGraph.fromEdges(members.length, internal, members.map(g.vwgt(_)))
    val side = members.map(u => if (part(u) == b) 1 else 0)
    val ext0 = new Array[Long](members.length)
    val ext1 = new Array[Long](members.length)
    for (j <- members.indices; u = members(j); i <- g.xadj(u) until g.xadj(u + 1)) {
      val v = g.adjncy(i)
      if (!idOf.contains(v)) {
        if (part(v) == a) ext0(j) += g.adjwgt(i)
        else if (part(v) == b) ext1(j) += g.adjwgt(i)
      }
    }
    def regionW(s: Int) = members.indices.filter(side(_) == s).map(sub.vwgt(_)).sum
    new Region(sub, members, side, ext0, ext1,
      blockWeight(g, part, a) - regionW(0), blockWeight(g, part, b) - regionW(1))
  }

  /** Refine pair (a, b) through a random region of its nodes; `part` is updated. */
  private def refinePair(
      g: CsrGraph, part: Array[Int], a: Int, b: Int, max0: Long, max1: Long,
      members: Array[Int], minSourceWeight: Long
  ): Long = {
    val r = region(g, part, a, b, members)
    val delta = SeqPartitioner.fmRefine(
      r.sub, r.side, max0, max1, fruitlessMoves = math.max(64, r.sub.n / 8), maxPasses = 3,
      minSourceWeight = minSourceWeight,
      ext0 = r.ext0, ext1 = r.ext1, fixed0 = r.fixed0, fixed1 = r.fixed1)
    r.ids.indices.foreach(j => part(r.ids(j)) = if (r.side(j) == 1) b else a)
    delta
  }

  test("pair region with attachments: delta is the full-graph cut change, caps hold") {
    val rnd = new Random(11)
    var regionsMoved = 0
    for (trial <- 0 until 40) {
      val n = 60 + rnd.nextInt(140)
      val g = randomGraph(n, 2 * n, rnd)
      val k = 3 + rnd.nextInt(3)
      val part = Array.fill(n)(rnd.nextInt(k))
      val (a, b) = (0, 1)
      val pairNodes = (0 until n).filter(u => part(u) == a || part(u) == b).toArray
      // a random share of the pair's nodes is the region, the rest stays fixed
      val members = pairNodes.filter(_ => rnd.nextDouble() < 0.3 + 0.7 * rnd.nextDouble())
      if (members.length > 1) {
        val (w0, w1) = (blockWeight(g, part, a), blockWeight(g, part, b))
        val (max0, max1) = (w0 + rnd.nextInt(6), w1 + rnd.nextInt(6))
        val before = SeqPartitioner.cut(g, part)
        val old = part.clone()
        val delta = refinePair(g, part, a, b, max0, max1, members, minSourceWeight = 1L)
        assert(delta <= 0L, s"trial $trial: a feasible pair never worsens its cut")
        assert(delta === SeqPartitioner.cut(g, part) - before, s"trial $trial")
        assert(blockWeight(g, part, a) <= max0 && blockWeight(g, part, b) <= max1, s"trial $trial")
        assert((0 until n).forall(u => part(u) == old(u) || Set(a, b)(old(u))),
          "only pair nodes move")
        if (!part.sameElements(old)) regionsMoved += 1
      }
    }
    assert(regionsMoved > 10, s"too few trials moved anything ($regionsMoved): the spec is vacuous")
  }

  test("minimum source weight 1: a pair side is never emptied") {
    val rnd = new Random(5)
    for (trial <- 0 until 20) {
      // the whole pair is the region and the caps admit everything on one side, so
      // the cut alone would pull every node onto one side
      val n = 20 + rnd.nextInt(40)
      val g = randomGraph(n, 4 * n, rnd)
      val part = Array.tabulate(n)(u => if (u < n / 2) 0 else 1)
      val total = g.vwgt.sum
      def run(minSourceWeight: Long): Array[Int] = {
        val p = part.clone()
        refinePair(g, p, 0, 1, total, total, (0 until n).toArray, minSourceWeight)
        p
      }
      val kept = run(1L)
      assert(kept.contains(0) && kept.contains(1), s"trial $trial emptied a side")
      if (trial == 0) {
        val free = run(0L)
        assert(!(free.contains(0) && free.contains(1)),
          "without the floor the cut-optimal state empties a side (the floor must bind)")
      }
    }
  }

  test("zero attachments: delta is the change of cut(g, side)") {
    val rnd = new Random(3)
    for (trial <- 0 until 30) {
      val n = 30 + rnd.nextInt(200)
      val g = randomGraph(n, 3 * n, rnd)
      val side = Array.fill(n)(rnd.nextInt(2))
      val total = g.vwgt.sum
      val max = total / 2 + rnd.nextInt(8)
      val before = SeqPartitioner.cut(g, side)
      val delta = SeqPartitioner.fmRefine(g, side, max, max, slack = rnd.nextInt(4).toLong)
      assert(delta === SeqPartitioner.cut(g, side) - before, s"trial $trial")
    }
  }
}
