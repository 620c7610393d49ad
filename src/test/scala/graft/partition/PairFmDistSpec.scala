package graft.partition

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Distributed pairwise FM (dist-O19): direct operator tests — border-region
  * extraction + driver 2-way FM must fix a deliberately swapped partition, and the
  * round-4 EDGE bound on the region collect must trip on hub-dense regions without
  * breaking feasibility or worsening the cut.
  */
class PairFmDistSpec extends SparkFunSuite {

  test("unswaps two deliberately exchanged clique nodes (optimal cut restored)") {
    val s = spark
    import s.implicits._
    // two K6 cliques joined by one bridge; nodes 0 and 6 start in the WRONG blocks
    val k1 = for { a <- 0 until 6; b <- a + 1 until 6 } yield (a.toLong, b.toLong)
    val k2 = for { a <- 6 until 12; b <- a + 1 until 12 } yield (a.toLong, b.toLong)
    val edges = undirectedUnit(k1 ++ k2 ++ Seq((0L, 6L)))
    val nodeW = (0L until 12L).map((_, 1L)).toDF("node", "weight")
    val part0 = (0L until 12L)
      .map(n => (n, if (n == 0L) 1 else if (n == 6L) 0 else if (n < 6) 0 else 1))
      .toDF("node", "block")
    val bw0 = Metrics.blockWeights(part0, nodeW, 2)
    val caps = Array(7L, 7L)
    val before = Metrics.edgeCut(edges, part0)
    val out = DistRefiner.pairwiseFmDist(
      spark, Gather.plain(edges), PartW(part0.join(nodeW, "node"), bw0), 2, caps, rounds = 2,
      seed = 3L)
    val (part, bw) = (out.part.select(col("node"), col("block")), out.blockW)
    val after = Metrics.edgeCut(edges, part)
    assert(after < before, s"expected improvement from $before, got $after")
    assert(after === 1L, s"optimal cut is the bridge alone, got $after")
    assert(bw.toSeq === Seq(6L, 6L))
    assert(Metrics.blockWeights(part, nodeW, 2).toSeq === bw.toSeq,
      "tracked block weights must match the returned labels")
  }

  test("hub-dense pair trips the edge bound: feasible, non-worsened, weights consistent") {
    val s = spark
    import s.implicits._
    // complete K12: the pair region passes the NODE cap (12 <= regionCap 20) but its
    // ~132 directed internal edges exceed edgeCapRows = 4 * 20 = 80 — the round-4
    // edge-bound path must engage (sqrt thinning, then skip if still dense)
    val es = for { a <- 0 until 12; b <- a + 1 until 12 } yield (a.toLong, b.toLong)
    val edges = undirectedUnit(es)
    val nodeW = (0L until 12L).map((_, 1L)).toDF("node", "weight")
    val part0 = (0L until 12L).map(n => (n, (n % 2).toInt)).toDF("node", "block")
    val bw0 = Metrics.blockWeights(part0, nodeW, 2)
    val caps = Array(7L, 7L)
    val before = Metrics.edgeCut(edges, part0)
    val out = DistRefiner.pairwiseFmDist(
      spark, Gather.plain(edges), PartW(part0.join(nodeW, "node"), bw0), 2, caps, rounds = 1,
      regionCap = 20L, seed = 3L)
    val (part, bw) = (out.part.select(col("node"), col("block")), out.blockW)
    val after = Metrics.edgeCut(edges, part)
    assert(after <= before, s"edge-bound path must never worsen the cut: $before -> $after")
    assert(bw.forall(_ <= 7L), s"over-cap block: ${bw.mkString(",")}")
    assert(bw.sum === 12L)
    assert(Metrics.blockWeights(part, nodeW, 2).toSeq === bw.toSeq,
      "tracked block weights must match the returned labels after thinning/skipping")
  }
}
