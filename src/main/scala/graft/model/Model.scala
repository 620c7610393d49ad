package graft.model

/** Core data model of the link-graph engine.
  *
  * Mirrors the reference's type system (`/root/reference/include/kaminpar-shm/kaminpar.h:32-57`):
  * NodeID/EdgeID/weights collapse to Long (we target 10^12-node scale, so 64-bit always),
  * BlockID stays Int (k is small). There are no strings/nulls in the compute core —
  * purely integral columns, exactly like the reference's CSR arrays
  * (`csr_graph.h:466-469`), except here the graph is a distributed Dataset of edges
  * rather than flat arrays.
  */

/** One directed half of an undirected edge. The canonical graph Dataset stores BOTH
  * directions of every undirected edge with equal weight, no self-loops — the same
  * invariants `debug::validate_graph` enforces in the reference
  * (`kaminpar-shm/datastructures/csr_graph.h:486-496`).
  */
final case class Edge(src: Long, dst: Long, w: Long)

/** One refinement superstep of one partitioning call (north star M6). A refiner
  * returns its rows with its result, at level -1; the partitioner tags them with the
  * coarsening level they ran at and collects them into its result, in run order.
  * LP supersteps record the weight they moved; JET rounds record the cut and
  * imbalance of the partition entering the round, and moved -1.
  */
final case class IterMetrics(
    level: Int,
    superstep: Int,
    moved: Long,
    cut: Long = -1L,
    imbalance: Double = -1.0
)

/** Partition context: k, imbalance epsilon and the derived block-weight bounds.
  * Mirrors `PartitionContext::setup` semantics
  * (`/root/reference/include/kaminpar-shm/kaminpar.h:417-531`): the max block weight is
  * (1+eps) * ceil(W/k), relaxed by the max node weight so that a feasible partition
  * always exists for unweighted graphs.
  */
final case class PartCtx(
    k: Int,
    epsilon: Double,
    totalNodeWeight: Long,
    maxNodeWeight: Long,
    minEpsilon: Double = 0.0
) {
  require(k >= 2, s"k must be >= 2, got $k")
  val perfectBlockWeight: Long =
    math.ceil(totalNodeWeight.toDouble / k).toLong

  /** Hard cap Lmax(b): balance constraint enforced at move granularity. */
  val maxBlockWeight: Long = {
    val soft = math.ceil((1.0 + epsilon) * totalNodeWeight.toDouble / k).toLong
    math.max(soft, perfectBlockWeight + maxNodeWeight)
  }

  /** Min block weight Lmin(b) (reference `kaminpar.h:428-433,514`: 0 when unset —
    * then the underload balancer is a no-op, exactly the reference default chain).
    */
  val minBlockWeight: Long =
    if (minEpsilon <= 0.0) 0L
    else math.floor((1.0 - minEpsilon) * totalNodeWeight.toDouble / k).toLong

  def hasMinBlockWeights: Boolean = minBlockWeight > 0L
}

/** In-memory CSR graph used ONLY at the coarsest level, after the distributed
  * coarsener has shrunk the graph below the driver threshold — the Spark analog of
  * `replicate_graph_everywhere` + shm initial partitioning
  * (`/root/reference/kaminpar-dist/partitioning/deep_multilevel.cc:132`).
  * Plain arrays; n is guaranteed <= contraction-limit * parallelism.
  */
final class CsrGraph(
    val xadj: Array[Int],
    val adjncy: Array[Int],
    val adjwgt: Array[Long],
    val vwgt: Array[Long]
) {
  val n: Int = xadj.length - 1
  def m: Int = adjncy.length
  def degree(u: Int): Int = xadj(u + 1) - xadj(u)
  def totalNodeWeight: Long = {
    var s = 0L; var i = 0
    while (i < n) { s += vwgt(i); i += 1 }
    s
  }
  def maxNodeWeight: Long = {
    var mx = 0L; var i = 0
    while (i < n) { if (vwgt(i) > mx) mx = vwgt(i); i += 1 }
    mx
  }
  def neighbors(u: Int): Range = xadj(u) until xadj(u + 1)
}

object CsrGraph {

  /** Build a CSR graph from a symmetric edge list with dense node ids 0..n-1.
    * Deterministic: neighbors sorted ascending per node.
    */
  def fromEdges(n: Int, edges: Array[(Long, Long, Long)], nodeWeights: Array[Long] = null): CsrGraph = {
    val m = edges.length
    val deg = new Array[Int](n)
    var i = 0
    while (i < m) { deg(edges(i)._1.toInt) += 1; i += 1 }
    val xadj = new Array[Int](n + 1)
    i = 0
    while (i < n) { xadj(i + 1) = xadj(i) + deg(i); i += 1 }
    // sort for determinism: place each edge into its src slice in input order,
    // encoding (dst, input index) into one primitive long (both < 2^31: ids are
    // dense indices < n, m is an array length); a per-slice Arrays.sort then
    // yields dst-ascending with input-order ties — exactly the order the previous
    // stable tuple sortBy on (src, dst) produced, without boxing a tuple per edge
    // (fromEdges is hot: one call per FM/flow pair region per round)
    val pos = java.util.Arrays.copyOf(xadj, n)
    val enc = new Array[Long](m)
    i = 0
    while (i < m) {
      val e = edges(i)
      val s = e._1.toInt
      enc(pos(s)) = (e._2 << 31) | i.toLong
      pos(s) += 1
      i += 1
    }
    var u = 0
    while (u < n) {
      if (xadj(u + 1) - xadj(u) > 1) java.util.Arrays.sort(enc, xadj(u), xadj(u + 1))
      u += 1
    }
    val adjncy = new Array[Int](m)
    val adjwgt = new Array[Long](m)
    i = 0
    while (i < m) {
      val v = enc(i)
      adjncy(i) = (v >>> 31).toInt
      adjwgt(i) = edges((v & 0x7fffffffL).toInt)._3
      i += 1
    }
    val vw = if (nodeWeights != null) nodeWeights else Array.fill(n)(1L)
    new CsrGraph(xadj, adjncy, adjwgt, vw)
  }
}
