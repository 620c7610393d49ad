package graft.partition

/** Dinic max-flow / min-cut on small driver-side networks — the kernel of the
  * pair-region flow refiner (SURVEY O21, reference `kaminpar-shm/refinement/flow`
  * role). Undirected edges are modeled as arc pairs that serve as each other's
  * residuals (cap c both ways), the standard undirected min-cut construction.
  *
  * Sizes here are border regions (<= ~50k nodes), where Dinic's blocking-flow
  * phases run in milliseconds.
  */
final class Dinic(n: Int, arcCapacity: Int) {
  private val head = Array.fill(n)(-1)
  private val nxt = new Array[Int](arcCapacity)
  private val to = new Array[Int](arcCapacity)
  private val cap = new Array[Long](arcCapacity)
  private var m = 0

  /** Undirected edge u-v with capacity c each way (arcs are mutual residuals). */
  def addUndirected(u: Int, v: Int, c: Long): Unit = {
    to(m) = v; cap(m) = c; nxt(m) = head(u); head(u) = m; m += 1
    to(m) = u; cap(m) = c; nxt(m) = head(v); head(v) = m; m += 1
  }

  private val level = new Array[Int](n)
  private val it = new Array[Int](n)
  private val queue = new Array[Int](n)

  private def bfs(s: Int, t: Int): Boolean = {
    java.util.Arrays.fill(level, -1)
    var qh = 0; var qt = 0
    queue(qt) = s; qt += 1; level(s) = 0
    while (qh < qt) {
      val u = queue(qh); qh += 1
      var e = head(u)
      while (e >= 0) {
        if (cap(e) > 0 && level(to(e)) < 0) {
          level(to(e)) = level(u) + 1
          queue(qt) = to(e); qt += 1
        }
        e = nxt(e)
      }
    }
    level(t) >= 0
  }

  // explicit path stack for the blocking-flow walk: pathArc(i) = arc from path node i
  // to path node i+1. Iterative on purpose — regions reach regionCap (200k) nodes and
  // the walk depth is bounded only by the level of t, so a recursive dfs on a
  // long-corridor region would overflow default thread stacks (pairwiseFmDist runs
  // the kernel on pooled driver threads).
  private val pathArc = new Array[Int](n + 1)
  private val pathNode = new Array[Int](n + 1)

  /** One augmenting path along level-increasing residual arcs (advance/retreat with
    * the shared `it` pointers — Dinic's blocking-flow step). Returns the pushed flow,
    * 0 when the level graph is exhausted.
    */
  private def augment(s: Int, t: Int): Long = {
    var top = 0
    pathNode(0) = s
    var u = s
    while (true) {
      if (u == t) {
        var f = Long.MaxValue
        var i = 0
        while (i < top) { if (cap(pathArc(i)) < f) f = cap(pathArc(i)); i += 1 }
        i = 0
        while (i < top) { cap(pathArc(i)) -= f; cap(pathArc(i) ^ 1) += f; i += 1 }
        return f
      }
      // advance: next residual arc one level down (it(u) persists across walks)
      var e = it(u)
      while (e >= 0 && !(cap(e) > 0 && level(to(e)) == level(u) + 1)) {
        e = nxt(e); it(u) = e
      }
      if (e >= 0) {
        pathArc(top) = e
        top += 1
        u = to(e)
        pathNode(top) = u
      } else {
        level(u) = -1 // dead end: prune from the level graph
        if (top == 0) return 0L
        top -= 1
        u = pathNode(top)
      }
    }
    0L // unreachable
  }

  def maxflow(s: Int, t: Int): Long = {
    var flow = 0L
    while (bfs(s, t)) {
      var u = 0
      while (u < n) { it(u) = head(u); u += 1 }
      var f = augment(s, t)
      while (f > 0) { flow += f; f = augment(s, t) }
    }
    flow
  }

  /** After maxflow: nodes residually reachable from s (the s side of a min cut). */
  def minCutSide(s: Int): Array[Boolean] = {
    val side = new Array[Boolean](n)
    var qh = 0; var qt = 0
    queue(qt) = s; qt += 1; side(s) = true
    while (qh < qt) {
      val u = queue(qh); qh += 1
      var e = head(u)
      while (e >= 0) {
        if (cap(e) > 0 && !side(to(e))) {
          side(to(e)) = true
          queue(qt) = to(e); qt += 1
        }
        e = nxt(e)
      }
    }
    side
  }

  /** Iterate residual successors of u (arcs with remaining capacity). */
  def foreachResidual(u: Int)(f: Int => Unit): Unit = {
    var e = head(u)
    while (e >= 0) {
      if (cap(e) > 0) f(to(e))
      e = nxt(e)
    }
  }

  /** After maxflow: nodes that can residually REACH t — the complement is the s side
    * of the OTHER extreme min cut (any assignment between the two extremes is a min
    * cut; the two give the balance options).
    */
  def minCutSideT(t: Int): Array[Boolean] = {
    val reach = new Array[Boolean](n)
    var qh = 0; var qt = 0
    queue(qt) = t; qt += 1; reach(t) = true
    while (qh < qt) {
      val v = queue(qh); qh += 1
      var e = head(v)
      while (e >= 0) {
        // arc e: v -> u; its pair e^1: u -> v with residual cap(e^1)
        val u = to(e)
        if (cap(e ^ 1) > 0 && !reach(u)) {
          reach(u) = true
          queue(qt) = u; qt += 1
        }
        e = nxt(e)
      }
    }
    reach
  }
}
