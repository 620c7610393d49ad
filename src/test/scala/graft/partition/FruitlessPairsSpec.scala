package graft.partition

import graft.SparkFunSuite
import graft.model.CsrGraph
import scala.util.Random

/** The fruitless-pair memo of the pairwise FM polish is exact: every driver call
  * returns the same arrays with the memo as with a memo that records nothing, and a
  * recorded pair is not reused on another graph or under another `lmax`.
  */
class FruitlessPairsSpec extends SparkFunSuite {

  private def randomCsr(n: Int, avgDeg: Int, seed: Long): CsrGraph = {
    val rand = new Random(seed)
    val es = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var i = 0
    while (i < n * avgDeg / 2) {
      val u = rand.nextInt(n); val v = rand.nextInt(n)
      if (u != v) es += ((u.toLong, v.toLong, 1L + rand.nextInt(3)))
      i += 1
    }
    val sym = es.flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
    CsrGraph.fromEdges(n, sym.toArray, Array.fill(n)(1L + rand.nextInt(2)))
  }

  /** A memo that records nothing: every pair runs. */
  private def none: SeqPartitioner.FruitlessPairs = new SeqPartitioner.FruitlessPairs {
    override def add(key: SeqPartitioner.FruitlessPairs.Key): Unit = ()
  }

  /** A memo that counts its hits and records. */
  private final class Counting extends SeqPartitioner.FruitlessPairs {
    var hits = 0
    var recorded = 0
    override def contains(key: SeqPartitioner.FruitlessPairs.Key): Boolean = {
      val hit = super.contains(key)
      if (hit) hits += 1
      hit
    }
    override def add(key: SeqPartitioner.FruitlessPairs.Key): Unit = {
      recorded += 1
      super.add(key)
    }
  }

  private def lmaxOf(g: CsrGraph, k: Int): Long = {
    val perfect = math.ceil(g.totalNodeWeight.toDouble / k).toLong
    math.max((1.03 * perfect).toLong, perfect + g.maxNodeWeight)
  }

  /** (graph, k, seed) cases: 24 random graphs, 2 to 8 blocks. */
  private val cases = (0 until 24).map { i =>
    val k = Seq(2, 3, 4, 6, 8)(i % 5)
    (randomCsr(120 + 23 * i, 4 + i % 5, 100L + i), k, 7L * i + 1)
  }

  test("pairwiseFmRefine with a memo across calls equals the unmemoized calls") {
    var hits = 0
    cases.foreach { case (g, k, seed) =>
      val lmax = lmaxOf(g, k)
      val start = Array.tabulate(g.n)(u => (u * 31 + seed.toInt) % k)
      SeqPartitioner.forceFeasible(g, start, k, Array.fill(k)(lmax))
      // a polish chain: pairwise FM, a perturbing LP pass, pairwise FM again
      def chain(memo: SeqPartitioner.FruitlessPairs): Array[Int] = {
        val p = start.clone()
        val rand = new Random(seed)
        SeqPartitioner.pairwiseFmRefine(g, p, k, lmax, maxSweeps = 3, memo)
        SeqPartitioner.kwayLpRefine(g, p, k, lmax, rand, rounds = 1)
        SeqPartitioner.pairwiseFmRefine(g, p, k, lmax, maxSweeps = 3, memo)
        SeqPartitioner.pairwiseFmRefine(g, p, k, lmax, maxSweeps = 3, memo)
        p
      }
      val memo = new Counting
      assert(chain(memo).toSeq === chain(none).toSeq,
        s"n=${g.n} k=$k seed=$seed")
      hits += memo.hits
    }
    assert(hits > 0, "the memo never hit, so the comparison shows nothing")
  }

  test("partitionKway and ilsRefine with the call-wide memo equal the unmemoized calls") {
    cases.foreach { case (g, k, seed) =>
      val memoized = SeqPartitioner.partitionKway(g, k, 0.03, seed)
      val plain = SeqPartitioner.partitionKway(g, k, 0.03, seed,
        fruitless = none)
      assert(memoized.part.toSeq === plain.part.toSeq, s"partitionKway n=${g.n} k=$k seed=$seed")
      assert(memoized.cut === plain.cut)

      val lmax = lmaxOf(g, k)
      def ils(memo: SeqPartitioner.FruitlessPairs): Array[Int] = {
        val p = memoized.part.clone()
        SeqPartitioner.ilsRefine(g, p, k, lmax, seed, kicks = 3, memo)
        p
      }
      assert(ils(new SeqPartitioner.FruitlessPairs).toSeq ===
        ils(none).toSeq, s"ilsRefine n=${g.n} k=$k seed=$seed")
    }
  }

  test("a recorded pair hits on the same graph and lmax only") {
    val g = randomCsr(300, 6, 9L)
    val k = 4
    val lmax = lmaxOf(g, k)
    val part = Array.tabulate(g.n)(_ % k)
    SeqPartitioner.forceFeasible(g, part, k, Array.fill(k)(lmax))
    // polish to a fixed point, where every pair is fruitless
    var rounds = 0
    var changed = true
    while (changed && rounds < 50) {
      val before = part.clone()
      SeqPartitioner.pairwiseFmRefine(g, part, k, lmax)
      changed = !before.sameElements(part)
      rounds += 1
    }
    assert(!changed)
    val memo = new Counting
    SeqPartitioner.pairwiseFmRefine(g, part.clone(), k, lmax, maxSweeps = 1, memo)
    assert(memo.recorded > 0 && memo.hits === 0)

    // same member sets, same graph and lmax: every pair is skipped
    SeqPartitioner.pairwiseFmRefine(g, part.clone(), k, lmax, maxSweeps = 1, memo)
    assert(memo.hits === memo.recorded)

    // same member sets under another lmax, or on another graph (even an equal copy)
    val hitsBefore = memo.hits
    SeqPartitioner.pairwiseFmRefine(g, part.clone(), k, lmax + 1, maxSweeps = 1, memo)
    val copy = new CsrGraph(g.xadj.clone(), g.adjncy.clone(), g.adjwgt.map(_ * 2), g.vwgt.clone())
    SeqPartitioner.pairwiseFmRefine(copy, part.clone(), k, lmax, maxSweeps = 1, memo)
    assert(memo.hits === hitsBefore)
  }
}
