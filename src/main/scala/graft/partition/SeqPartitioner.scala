package graft.partition

import graft.model.CsrGraph
import graft.util.Par
import scala.collection.mutable
import scala.util.Random

/** Driver-side sequential multilevel recursive-bisection partitioner.
  *
  * This is the Spark analog of the reference's initial-partitioning stage: once the
  * distributed coarsener has shrunk the graph below the driver threshold, the whole
  * coarse graph is collected and partitioned here — exactly the role
  * `replicate_graph_everywhere` + the shm initial partitioner play in dKaMinPar
  * (`/root/reference/kaminpar-dist/partitioning/deep_multilevel.cc:132`).
  *
  * Semantics mirrored from the reference (SURVEY.md O12-O15), implementation from
  * scratch:
  *  - multilevel per bisection: LP-clustering coarsening with a cluster-weight cap
  *    (`initial_coarsener.cc` role), then a pool of flat bipartitioners (greedy graph
  *    growing / BFS growing / random — `initial_pool_bipartitioner.cc` role), keep the
  *    best by (feasible, cut), then 2-way FM with best-prefix rollback while
  *    uncoarsening (`initial_fm_refiner.cc` role, alpha-free: fixed fruitless-move
  *    cutoff).
  *  - k-way via recursive bisection with per-side target weights proportional to the
  *    number of final blocks on each side, and a per-level epsilon chosen so the
  *    composed imbalance stays within the user's eps (`partition_utils.cc:21-50` role).
  *
  * Deterministic given the seed.
  */
object SeqPartitioner {

  /** Hard cutoff of fruitless FM moves per pass (reference default 100,
    * `presets.cc:208`; slightly larger since our passes are cheaper).
    */
  private val FruitlessMoves = 1200
  private val CoarsestSize = 20

  final case class Result(part: Array[Int], cut: Long)

  /** Best of `attempts` independent seeded runs, preferring feasible then min-cut —
    * the role of the reference's ASYNC_PARALLEL initial-partitioning worker pool
    * (`partitioning/deep/async_initial_partitioning.cc`): repeat on the small graph,
    * keep the winner. The attempts are embarrassingly parallel (each owns its Random
    * and output array; the CsrGraph is shared read-only), so they run on a local
    * thread pool — the driver-side stage no longer serializes a 32-core box.
    * Deterministic given the seed: selection compares (feasible, cut, attempt index).
    */
  def partitionKwayBest(
      g: CsrGraph, k: Int, eps: Double, seed: Long, attempts: Int = 3,
      boundsOverride: Option[(Long, Long)] = None
  ): Result = {
    val (_, lmax) = bounds(g, k, eps, boundsOverride)
    val results = Par.awaitAll((0 until attempts).map { a => () =>
      val r = partitionKway(g, k, eps, seed + a * 0x9e3779b9L, boundsOverride)
      (blockWeights(g, r.part, k).max <= lmax, r)
    })
    var best: Result = null
    var bestKey = (false, Long.MaxValue)
    results.foreach { case (feasible, r) =>
      val better = if (feasible != bestKey._1) feasible else r.cut < bestKey._2
      if (best == null || better) { best = r; bestKey = (feasible, r.cut) }
    }
    best
  }

  /** (perfect, Lmax) — derived from g unless the caller supplies the FINE-level bounds
    * (when g is a coarse graph inside the deep pipeline, the balance constraint of the
    * original graph must drive the caps, not the coarse node granularity — the
    * granularity slack is handled per-level by `relax`).
    */
  private def bounds(g: CsrGraph, k: Int, eps: Double, o: Option[(Long, Long)]): (Long, Long) =
    o.getOrElse {
      val perfect = math.ceil(g.totalNodeWeight.toDouble / k).toLong
      (perfect, math.max(((1.0 + eps) * perfect).toLong, perfect + g.maxNodeWeight))
    }

  /** Partition g into k blocks with imbalance <= eps. Returns block array + cut.
    *
    * Deep-MGP shape on the driver (reference `deep_multilevel.cc:275-328`): extend k
    * breadth-first — bisect every current block, then refine the WHOLE graph at the
    * intermediate k with k-way FM + LP before the next doubling. Refining at every
    * granularity is where multilevel quality comes from; the round-1 depth-first
    * recursion refined only at the final k and measured ~1.6x worse cuts.
    *
    * During extension, block b (owning fk(b) final blocks) is capped at fk(b)*Lmax and
    * targeted at fk(b)*perfect, so imbalance cannot compound across levels (the
    * `compute_final_k` role, `partition_utils.cc:21-50`). Block ids during extension
    * are each group's final-id range start, so the final ids are exactly 0..k-1.
    */
  def partitionKway(
      g: CsrGraph, k: Int, eps: Double, seed: Long,
      boundsOverride: Option[(Long, Long)] = None,
      fruitless: FruitlessPairs = new FruitlessPairs
  ): Result = {
    require(k >= 1)
    val part = new Array[Int](g.n)
    if (k == 1) return Result(part, 0L)
    val (perfect, lmax) = bounds(g, k, eps, boundsOverride)
    val rand = new Random(seed)
    extendAndRefine(g, k, eps, seed, perfect, lmax, rand, part, Int.MaxValue, fruitless)
    Result(part, cut(g, part))
  }

  /** Deep-MGP coarsest stage (reference `deep_multilevel.cc:275-328` role): run at
    * most `maxDoublings` breadth-first doublings and return (part, groups) with every
    * group tightened to its exact fk*Lmax cap — the distributed pipeline extends the
    * remaining doublings during uncoarsening via block-induced driver bisections.
    */
  def partitionKwayGroups(
      g: CsrGraph, k: Int, eps: Double, seed: Long,
      boundsOverride: Option[(Long, Long)],
      maxDoublings: Int
  ): (Array[Int], List[(Int, Int)]) = {
    val part = new Array[Int](g.n)
    val (perfect, lmax) = bounds(g, k, eps, boundsOverride)
    val rand = new Random(seed)
    val groups = extendAndRefine(g, k, eps, seed, perfect, lmax, rand, part, maxDoublings,
      new FruitlessPairs)
    (part, groups)
  }

  /** One block-induced bisection for the distributed extension (SURVEY P5 + O15). */
  def bisect(
      g: CsrGraph, t0: Long, t1: Long, max0: Long, max1: Long, seed: Long
  ): Array[Int] =
    multilevelBisect(g, t0, t1, max0, max1, new Random(seed))

  private def extendAndRefine(
      g: CsrGraph, k: Int, eps: Double, seed: Long,
      perfect: Long, lmax: Long, rand: Random, part: Array[Int],
      maxDoublings: Int, fruitless: FruitlessPairs
  ): List[(Int, Int)] = {
    // groups: (blockId = final-range start, #final blocks in the group)
    // Balance anneals across the doublings: intermediate levels get a RELAXED cap
    // (at tight eps every block sits within a few units of its cap right after
    // bisection and per-move balance checks freeze FM/LP entirely — measured: 0
    // improving moves), shrinking back to the exact eps by the last doubling so the
    // final tightening is cheap. KaHIP-style adaptive imbalance, re-derived.
    val epsLoose = math.max(eps, 0.10)
    val lmaxLoose = math.max(math.ceil((1.0 + epsLoose) * perfect).toLong, lmax)
    var groups = List((0, k))
    var doublings = 0
    while (groups.exists(_._2 > 1) && doublings < maxDoublings) {
      doublings += 1
      // 1. tighten every group to its EXACT cap fk*Lmax before splitting — group
      // slack is fk*(Lmax-perfect), so this is roomy at group granularity and
      // guarantees every bisection below has a feasible exact-cap split
      val capsExact = new Array[Long](k)
      groups.foreach { case (lo, fk) => capsExact(lo) = fk * lmax }
      kwayLpRefine(g, part, k, capsExact, rand, rounds = 6)
      // 2. split each group under the exact side caps. Group bisections are
      // INDEPENDENT (each touches only its own members — disjoint `part` slots), so
      // they run on a local pool with per-group seeded Randoms (deterministic, and
      // the driver IP stage no longer serializes a 32-core box at 8+ groups).
      Par.awaitAll(groups.filter(_._2 > 1).map { case (lo, fk) => () =>
        val k0 = (fk + 1) / 2
        val k1 = fk - k0
        val (sub, ids) = inducedByBlock(g, part, lo)
        val total = sub.totalNodeWeight
        var t0 = math.ceil(total.toDouble * k0 / fk).toLong
        if (total - t0 > k1 * lmax) t0 = total - k1 * lmax
        if (t0 > k0 * lmax) t0 = k0 * lmax
        val side = multilevelBisect(sub, t0, total - t0, k0 * lmax, k1 * lmax,
          new Random(seed ^ (lo.toLong * 0x9e3779b97f4a7c15L) ^ (doublings.toLong << 32)))
        var i = 0
        while (i < sub.n) { if (side(i) == 1) part(ids(i)) = lo + k0; i += 1 }
      })
      groups = groups.flatMap { case (lo, fk) =>
        if (fk == 1) List((lo, 1))
        else { val k0 = (fk + 1) / 2; List((lo, k0), (lo + k0, fk - k0)) }
      }
      // 3. refine at the new granularity under RELAXED caps (at tight eps every
      // block sits within a few units of its cap right after bisection and per-move
      // balance checks freeze FM/LP entirely — measured: 0 improving moves); step 1
      // of the next iteration re-tightens at the coarser group granularity. Skipped
      // after the last doubling — the final chain below works at the exact caps.
      if (groups.exists(_._2 > 1)) {
        val capsLoose = new Array[Long](k)
        groups.foreach { case (lo, fk) => capsLoose(lo) = fk * lmaxLoose }
        kwayFmRefine(g, part, k, capsLoose)
        kwayLpRefine(g, part, k, capsLoose, rand, rounds = 3)
      }
    }
    // doubling-capped (deep-MGP coarsest stage): tighten every group to its exact
    // fk*Lmax cap and hand the rest of the extension to the caller
    if (groups.exists(_._2 > 1)) {
      val capsExact = new Array[Long](k)
      groups.foreach { case (lo, fk) => capsExact(lo) = fk * lmax }
      kwayFmRefine(g, part, k, capsExact, math.max(2 * g.maxNodeWeight, lmax / 10))
      kwayLpRefine(g, part, k, capsExact, rand, rounds = 6)
      return groups
    }

    // final chain at the exact caps: the state is feasible by construction; slack
    // buys tentative swap sequences (rolled back unless they land feasible), and
    // pairwise 2-way FM performs the balanced swaps k-way per-move caps cannot
    val capsFinal = Array.fill(k)(lmax)
    val slack = math.max(2 * g.maxNodeWeight, lmax / 10)
    kwayFmRefine(g, part, k, capsFinal, slack)
    kwayLpRefine(g, part, k, capsFinal, rand, rounds = 3)
    var lastCut = Long.MaxValue
    var curCut = cut(g, part)
    var polishIters = 0
    // large coarse handoffs (the deep pipeline's IP stage — e.g. sf0.1 hands off
    // ~12k nodes) take the LIGHT polish: the distributed JET/LP/pairFM levels above
    // recover the quality, and each pairwise sweep is O(k^2) subgraph extractions
    val maxPolish = if (g.n > 8192) 2 else 8
    val pairSweeps = if (g.n > 8192) 4 else 8
    while (curCut < lastCut && polishIters < maxPolish) {
      lastCut = curCut
      pairwiseFmRefine(g, part, k, lmax, maxSweeps = pairSweeps, fruitless)
      kwayFmRefine(g, part, k, capsFinal, slack)
      kwayLpRefine(g, part, k, capsFinal, rand, rounds = 2)
      curCut = cut(g, part)
      polishIters += 1
    }
    // feasibility backstop (slack-tolerant refinement can strand residual overload
    // when LP eviction finds no adjacent room), then one more pairwise polish
    if (blockWeights(g, part, k).zip(capsFinal).exists { case (w0, c) => w0 > c }) {
      forceFeasible(g, part, k, capsFinal)
      pairwiseFmRefine(g, part, k, lmax, fruitless = fruitless)
    }
    // V-cycle count scales down with size: on large coarse handoffs (inside the deep
    // pipeline) the distributed JET/LP levels above recover the quality, so one cycle
    // suffices; small driver-path graphs keep the full polish
    vcycle(g, part, k, lmax, rand, cycles = if (g.n > 5000) 1 else 4)
    // last (so no later pass can re-empty a block): every block non-empty when n >= k.
    // Full-lmax caps are correct ONLY because this point is reached exclusively at
    // full k (all groups fk == 1 — the doubling-capped deep-MGP path returned above);
    // in that path the distributed chain owns the full-k contract via
    // DistRefiner.fillToFloor, and seeding reserved (zero-cap) group blocks here would
    // corrupt it. The guard makes the invariant explicit.
    assert(groups.forall(_._2 == 1),
      "fillEmptyBlocks must only run at full k (capped extension returns earlier)")
    fillEmptyBlocks(g, part, k, Array.fill(k)(lmax))
    groups
  }

  /** Iterated local search at the finest driver granularity (round-5 quality
    * stretch): perturb-and-repolish basin hopping above the refinement chain's local
    * minimum. Each kick restarts from the incumbent best, moves a seeded random
    * sample of BOUNDARY nodes to a random adjacent block (slack-tolerant — the
    * polish re-establishes balance), then re-runs the FM/LP/pairwise polish; the
    * best (feasible, cut) state is kept. Deterministic given the seed. Driver-path
    * only (one JVM owns the whole graph); the distributed path's escape mechanism
    * is the V-cycle. The reference's corresponding lever is its iterated V-cycling
    * quality mode (`vcycle_deep_multilevel.cc`); a kick-based ILS explores basins a
    * block-restricted basis cannot express.
    */
  def ilsRefine(
      g: CsrGraph, part: Array[Int], k: Int, lmax: Long, seed: Long, kicks: Int,
      fruitless: FruitlessPairs = new FruitlessPairs): Unit = {
    if (kicks <= 0 || k < 2) return
    val rand = new Random(seed ^ 0x11571c5aL)
    val capsFinal = Array.fill(k)(lmax)
    val slack = math.max(2 * g.maxNodeWeight, lmax / 10)
    if (blockWeights(g, part, k).max > lmax) return // only hop between feasible basins
    var bestCut = cut(g, part)
    val best = part.clone()
    val cand = new Array[Int](g.n)
    val nbs = new Array[Int](k)
    var kk = 0
    while (kk < kicks) {
      System.arraycopy(best, 0, cand, 0, g.n)
      val bw = blockWeights(g, cand, k)
      // kick strength cycles 1%/2%/3% of boundary nodes for basin-size diversity
      val p = 0.01 * (1 + kk % 3)
      var u = 0
      while (u < g.n) {
        var nNb = 0
        var ei = g.xadj(u)
        while (ei < g.xadj(u + 1)) {
          val b = cand(g.adjncy(ei))
          if (b != cand(u)) {
            var seen = false
            var j = 0
            while (j < nNb && !seen) { if (nbs(j) == b) seen = true; j += 1 }
            if (!seen) { nbs(nNb) = b; nNb += 1 }
          }
          ei += 1
        }
        if (nNb > 0 && rand.nextDouble() < p) {
          val to = nbs(rand.nextInt(nNb))
          if (bw(to) + g.vwgt(u) <= lmax + slack) {
            bw(cand(u)) -= g.vwgt(u)
            bw(to) += g.vwgt(u)
            cand(u) = to
          }
        }
        u += 1
      }
      kwayFmRefine(g, cand, k, capsFinal, slack)
      kwayLpRefine(g, cand, k, capsFinal, rand, rounds = 2)
      pairwiseFmRefine(g, cand, k, lmax, maxSweeps = 4, fruitless)
      if (blockWeights(g, cand, k).max > lmax) forceFeasible(g, cand, k, capsFinal)
      // refinement on a kicked state can strand empty blocks — restore the full-k
      // contract before scoring (the incumbent entered with all k populated)
      if (g.n >= k) fillEmptyBlocks(g, cand, k, capsFinal)
      val cCut = cut(g, cand)
      if (blockWeights(g, cand, k).max <= lmax && cCut < bestCut) {
        bestCut = cCut
        System.arraycopy(cand, 0, best, 0, g.n)
      }
      kk += 1
    }
    System.arraycopy(best, 0, part, 0, g.n)
  }

  /** Populate empty blocks (possible after bisections/eviction at tight n/k ratios):
    * move the cheapest mover — minimum internal connectivity, so usually a boundary
    * node — from a multi-node block into each empty block, respecting its cap. Runs
    * AFTER all refinement; LP/FM would otherwise immediately pull a lone seed back
    * out (positive gain toward its old block) and re-empty the block.
    */
  def fillEmptyBlocks(g: CsrGraph, part: Array[Int], k: Int, caps: Array[Long]): Unit = {
    val counts = new Array[Int](k)
    val blockW = blockWeights(g, part, k)
    var u = 0
    while (u < g.n) { counts(part(u)) += 1; u += 1 }
    var b = 0
    while (b < k) {
      if (counts(b) == 0 && caps(b) > 0L) {
        var best = -1
        var bestInternal = Long.MaxValue
        var v = 0
        while (v < g.n) {
          val cb = part(v)
          if (counts(cb) > 1 && g.vwgt(v) <= caps(b) && blockW(cb) - g.vwgt(v) >= 0L) {
            var internal = 0L
            var ei = g.xadj(v)
            while (ei < g.xadj(v + 1)) {
              if (part(g.adjncy(ei)) == cb) internal += g.adjwgt(ei)
              ei += 1
            }
            if (internal < bestInternal || (internal == bestInternal && (best < 0 || v < best))) {
              best = v; bestInternal = internal
            }
          }
          v += 1
        }
        if (best >= 0) {
          val from = part(best)
          counts(from) -= 1; counts(b) += 1
          blockW(from) -= g.vwgt(best); blockW(b) += g.vwgt(best)
          part(best) = b
        }
      }
      b += 1
    }
  }

  /** Guaranteed rebalance: greedily move members out of overloaded blocks into the
    * roomiest fitting block, preferring low cut damage (the driver-side analog of the
    * reference overload balancer's "random fallback"). Succeeds whenever total
    * capacity suffices — the feasibility backstop after slack-tolerant refinement.
    */
  def forceFeasible(g: CsrGraph, part: Array[Int], k: Int, caps: Array[Long]): Unit = {
    val blockW = blockWeights(g, part, k)
    val ratings = new mutable.LongMap[Long](64)
    var b = 0
    while (b < k) {
      while (blockW(b) > caps(b)) {
        // member of b with the least eviction loss that fits somewhere
        var bestU = -1
        var bestTo = -1
        var bestLoss = Long.MaxValue
        var u = 0
        while (u < g.n) {
          if (part(u) == b) {
            ratings.clear()
            var i = g.xadj(u)
            while (i < g.xadj(u + 1)) {
              val nb = part(g.adjncy(i))
              ratings(nb.toLong) = ratings.getOrElse(nb.toLong, 0L) + g.adjwgt(i)
              i += 1
            }
            val internal = ratings.getOrElse(b.toLong, 0L)
            var t = 0
            while (t < k) {
              if (t != b && blockW(t) + g.vwgt(u) <= caps(t)) {
                val loss = internal - ratings.getOrElse(t.toLong, 0L)
                if (loss < bestLoss || (loss == bestLoss && t < bestTo)) {
                  bestLoss = loss; bestU = u; bestTo = t
                }
              }
              t += 1
            }
          }
          u += 1
        }
        if (bestU < 0) return // no capacity anywhere: give up (infeasible input)
        blockW(b) -= g.vwgt(bestU)
        blockW(bestTo) += g.vwgt(bestU)
        part(bestU) = bestTo
      }
      b += 1
    }
  }

  /** Pairwise 2-way FM over adjacent block pairs (quotient-graph refinement — the
    * scheduling shape of the reference's 2-way refiners over active block pairs,
    * `refinement/flow/scheduler` role, with FM instead of flows). Moves inside a pair
    * leave every third-block cut contribution invariant (u stays in {a,b}), so
    * refining the pair-induced subgraph with plain 2-way FM is exact for the global
    * objective — and 2-way FM's tentative-move rollback performs the balanced SWAPS
    * that per-move k-way caps freeze at tight eps. Sweeps pairs by descending
    * boundary weight until a sweep finds no improvement, skipping every pair that
    * `fruitless` has already seen fail on identical membership (on dense coarse
    * handoffs the large majority of the O(k^2 * sweeps) FM+flow runs). The memo lives
    * for this call unless the caller passes one that spans its own repeated polish.
    */
  def pairwiseFmRefine(
      g: CsrGraph, part: Array[Int], k: Int, lmax: Long, maxSweeps: Int = 6,
      fruitless: FruitlessPairs = new FruitlessPairs): Unit = {
    // pair extraction works from per-block member lists (ascending node ids), not a
    // whole-graph scan (optimization r06, result-identical): extracting pair (a, b)
    // costs O(|a| + |b| + incident edges) instead of O(n + m) — an ~k/2-fold cut of
    // the dominant polish cost at k = 16. `remap` is a reusable scratch buffer that
    // individual extractions leave fully reset to -1.
    val remap = new Array[Int](g.n)
    java.util.Arrays.fill(remap, -1)
    val mem = new Array[Array[Int]](k)
    val memHash = new Array[Int](k)
    def setMembers(b: Int, members: Array[Int]): Unit = {
      mem(b) = members
      memHash(b) = java.util.Arrays.hashCode(members)
    }
    var sweep = 0
    var improvedSweep = true
    while (sweep < maxSweeps && improvedSweep) {
      improvedSweep = false
      // boundary weight per block pair + fresh member lists (one O(n + m) pass)
      val pairW = new mutable.LongMap[Long](64)
      val memB = Array.fill(k)(new mutable.ArrayBuilder.ofInt)
      var u = 0
      while (u < g.n) {
        memB(part(u)) += u
        var i = g.xadj(u)
        while (i < g.xadj(u + 1)) {
          val v = g.adjncy(i)
          if (part(v) != part(u) && u < v) {
            val a = math.min(part(u), part(v)); val b = math.max(part(u), part(v))
            val key = (a.toLong << 32) | b.toLong
            pairW(key) = pairW.getOrElse(key, 0L) + g.adjwgt(i)
          }
          i += 1
        }
        u += 1
      }
      var bi = 0
      while (bi < k) { setMembers(bi, memB(bi).result()); bi += 1 }
      val pairs = pairW.toSeq.sortBy { case (key, w) => (-w, key) }
      for ((key, _) <- pairs) {
        val a = (key >>> 32).toInt
        val b = (key & 0xffffffffL).toInt
        val pairKey = new FruitlessPairs.Key(g, lmax, mem(a), mem(b), memHash(a), memHash(b))
        if (!fruitless.contains(pairKey)) {
          // induced subgraph over blocks {a, b} from the member lists: ids ascend
          // (merge of two ascending disjoint lists), neighbors keep adjacency order
          val (sub, ids) = induced(g, remap, mergeAscending(mem(a), mem(b)))
          var improvedPair = false
          if (sub.n > 1) {
            val side = new Array[Int](sub.n)
            var j = 0
            while (j < sub.n) { side(j) = if (part(ids(j)) == b) 1 else 0; j += 1 }
            val before = cut(sub, side)
            fmRefine(sub, side, lmax, lmax, slack = math.max(2 * sub.maxNodeWeight, lmax / 10))
            // flow step (O21): min S-T cut through the border corridor — finds the
            // non-local re-routings move-based FM cannot; rejects infeasible cuts
            FlowRefine.refineRegion(sub, side, delta = 6, lmax, lmax)
            if (cut(sub, side) < before) {
              improvedSweep = true
              improvedPair = true
              val na = new mutable.ArrayBuilder.ofInt
              val nb = new mutable.ArrayBuilder.ofInt
              j = 0
              while (j < sub.n) {
                if (side(j) == 1) { part(ids(j)) = b; nb += ids(j) }
                else { part(ids(j)) = a; na += ids(j) }
                j += 1
              }
              setMembers(a, na.result())
              setMembers(b, nb.result())
            }
          }
          if (!improvedPair) fruitless.add(pairKey)
        }
      }
      sweep += 1
    }
  }

  /** Block pairs whose pairwise 2-way FM + flow step found nothing, keyed by their
    * exact membership (looked up by hash, confirmed by full array equality). Exact:
    * [[fmRefine]] and `FlowRefine.refineRegion` are deterministic functions of the
    * pair-induced subgraph — fixed by the graph and the two member arrays — and
    * `lmax`, and a fruitless pair leaves `part` untouched, so a pair with recorded
    * membership would re-derive the same nothing. One memo serves one driver call on
    * one graph (a [[partitionKway]] attempt, an [[ilsRefine]] call, a V-cycle
    * polish) and one thread; the graph and `lmax` are part of the key.
    */
  private[partition] class FruitlessPairs {
    private val seen = mutable.HashSet.empty[FruitlessPairs.Key]
    def contains(key: FruitlessPairs.Key): Boolean = seen.contains(key)
    def add(key: FruitlessPairs.Key): Unit = seen += key
  }

  private[partition] object FruitlessPairs {
    /** Pair membership: side 0 holds `a`, side 1 holds `b`. The arrays are not copied;
      * their owners never mutate them.
      */
    final class Key(
        val g: CsrGraph, val lmax: Long, val a: Array[Int], val b: Array[Int],
        hashA: Int, hashB: Int) {
      override val hashCode: Int = java.util.Arrays.hashCode(
        Array(System.identityHashCode(g), java.lang.Long.hashCode(lmax), hashA, hashB))
      override def equals(o: Any): Boolean = o match {
        case that: Key =>
          (that.g eq g) && that.lmax == lmax && that.hashCode == hashCode &&
            java.util.Arrays.equals(that.a, a) && java.util.Arrays.equals(that.b, b)
        case _ => false
      }
    }
  }

  /** Induced subgraph over an ascending member list: (subgraph, ids) with subgraph
    * node i = ids(i) and each node's neighbors in adjacency order, at
    * O(members + incident edges). `remap` must be all -1 on entry and is restored on
    * exit, so a caller that extracts many subgraphs reuses one buffer.
    */
  private def induced(g: CsrGraph, remap: Array[Int], ids: Array[Int]): (CsrGraph, Array[Int]) = {
    val n2 = ids.length
    var i = 0
    while (i < n2) { remap(ids(i)) = i; i += 1 }
    val xadj2 = new Array[Int](n2 + 1)
    i = 0
    while (i < n2) {
      val u = ids(i)
      var d = 0
      var j = g.xadj(u)
      while (j < g.xadj(u + 1)) { if (remap(g.adjncy(j)) >= 0) d += 1; j += 1 }
      xadj2(i + 1) = xadj2(i) + d
      i += 1
    }
    val adj2 = new Array[Int](xadj2(n2))
    val wgt2 = new Array[Long](xadj2(n2))
    val vw2 = new Array[Long](n2)
    i = 0
    while (i < n2) {
      val u = ids(i)
      vw2(i) = g.vwgt(u)
      var p = xadj2(i)
      var j = g.xadj(u)
      while (j < g.xadj(u + 1)) {
        val rv = remap(g.adjncy(j))
        if (rv >= 0) { adj2(p) = rv; wgt2(p) = g.adjwgt(j); p += 1 }
        j += 1
      }
      i += 1
    }
    i = 0
    while (i < n2) { remap(ids(i)) = -1; i += 1 }
    (new CsrGraph(xadj2, adj2, wgt2, vw2), ids)
  }

  /** The ascending merge of two disjoint ascending member lists. */
  private def mergeAscending(a: Array[Int], b: Array[Int]): Array[Int] = {
    val out = new Array[Int](a.length + b.length)
    var ia = 0; var ib = 0; var t = 0
    while (t < out.length) {
      val takeA = ib >= b.length || (ia < a.length && a(ia) < b(ib))
      if (takeA) { out(t) = a(ia); ia += 1 } else { out(t) = b(ib); ib += 1 }
      t += 1
    }
    out
  }

  /** Induced subgraph of one block (SURVEY P5 role during extension). Its own
    * `remap`: the group bisections that call it run concurrently.
    */
  private def inducedByBlock(g: CsrGraph, part: Array[Int], b: Int): (CsrGraph, Array[Int]) = {
    val remap = new Array[Int](g.n)
    java.util.Arrays.fill(remap, -1)
    induced(g, remap, (0 until g.n).filter(part(_) == b).toArray)
  }

  /** V-cycles (reference VCYCLE scheme, `partitioning/deep/vcycle_deep_multilevel.cc`
    * role): re-coarsen with clustering RESTRICTED to same-block merges (so the coarse
    * graph inherits a consistent partition), refine at the coarse granularity — where
    * a single move relocates a whole cluster, escaping fine-level local minima — and
    * project back + polish. Keeps the best feasible result.
    */
  private def vcycle(g: CsrGraph, part: Array[Int], k: Int, lmax: Long, rand: Random, cycles: Int): Unit = {
    var bestCut = cut(g, part)
    var cycle = 0
    while (cycle < cycles) {
      // alternate coarsening granularity across cycles for move diversity
      val cap = math.max(1L, g.totalNodeWeight / (math.max(4 * k, 64) >> (cycle % 2)))
      val clustering = lpCluster(g, cap, rand, iterations = 3, sameBlock = Some(part))
      val (coarse, mapping) = contract(g, clustering)
      if (coarse.n < g.n) {
        // coarse partition: every member of a coarse node shares a block by construction
        val coarsePart = new Array[Int](coarse.n)
        var u = 0
        while (u < g.n) { coarsePart(mapping(u)) = part(u); u += 1 }
        val slackC = math.max(2 * coarse.maxNodeWeight, lmax / 10)
        kwayFmRefine(coarse, coarsePart, k, Array.fill(k)(lmax), slackC)
        kwayLpRefine(coarse, coarsePart, k, lmax, rand, rounds = 3)
        val candidate = new Array[Int](g.n)
        u = 0
        while (u < g.n) { candidate(u) = coarsePart(mapping(u)); u += 1 }
        kwayFmRefine(g, candidate, k, Array.fill(k)(lmax), math.max(2 * g.maxNodeWeight, lmax / 10))
        kwayLpRefine(g, candidate, k, lmax, rand, rounds = 3)
        val cCut = cut(g, candidate)
        val feasible = blockWeights(g, candidate, k).max <= lmax
        if (feasible && cCut < bestCut) {
          bestCut = cCut
          System.arraycopy(candidate, 0, part, 0, g.n)
        }
      }
      cycle += 1
    }
  }

  /** Sequential k-way FM with best-prefix rollback (the driver-side quality pass the
    * reference gets from its FM refiners; lazy-deletion global PQ over boundary
    * nodes, stale entries re-validated on pop). Negative-gain moves are explored and
    * rolled back unless a later prefix improves the cut — the hill-climbing ability
    * plain LP refinement lacks.
    */
  def kwayFmRefine(g: CsrGraph, part: Array[Int], k: Int, lmax: Long): Unit =
    kwayFmRefine(g, part, k, Array.fill(k)(lmax))

  def kwayFmRefine(g: CsrGraph, part: Array[Int], k: Int, caps: Array[Long], slack: Long = 0L): Unit = {
    var pass = 0
    var improved = true
    while (pass < 4 && improved) {
      improved = kwayFmPass(g, part, k, caps, slack)
      pass += 1
    }
  }

  private def kwayFmPass(g: CsrGraph, part: Array[Int], k: Int, caps: Array[Long], slack: Long): Boolean = {
    val n = g.n
    val blockW = blockWeights(g, part, k)
    // flat per-block rating accumulator with a stamp array (r06: was a boxed
    // LongMap in the hottest loop — bestMove runs for every seeded node and every
    // neighbor refresh). Result-identical: the argmax tie-break below is a TOTAL
    // order ((gain desc, block asc)), so accumulator iteration order is irrelevant
    // (unlike kwayLpRefine's first-seen tie-break, which keeps its LongMap).
    val acc = new Array[Long](k)
    val stamp = new Array[Int](k)
    val touched = new Array[Int](k)
    var curStamp = 0

    // best external move for u under the current partition; returns (gain, target)
    def bestMove(u: Int): (Long, Int) = {
      curStamp += 1
      var nt = 0
      var i = g.xadj(u)
      while (i < g.xadj(u + 1)) {
        val b = part(g.adjncy(i))
        if (stamp(b) != curStamp) { stamp(b) = curStamp; acc(b) = 0L; touched(nt) = b; nt += 1 }
        acc(b) += g.adjwgt(i)
        i += 1
      }
      val cur = part(u)
      val internal = if (stamp(cur) == curStamp) acc(cur) else 0L
      var bg = Long.MinValue
      var bt = -1
      var t = 0
      while (t < nt) {
        val b = touched(t)
        if (b != cur && blockW(b) + g.vwgt(u) <= caps(b) + slack) {
          val gain = acc(b) - internal
          if (gain > bg || (gain == bg && b < bt)) { bg = gain; bt = b }
        }
        t += 1
      }
      (bg, bt)
    }

    val heap = new FmHeap(n + 1)
    val locked = new Array[Boolean](n)
    var u = 0
    while (u < n) {
      // seed only boundary nodes (any neighbor in another block)
      var boundary = false
      var i = g.xadj(u)
      while (i < g.xadj(u + 1) && !boundary) {
        if (part(g.adjncy(i)) != part(u)) boundary = true
        i += 1
      }
      if (boundary) {
        val (gain, t) = bestMove(u)
        if (t >= 0) heap.enqueue(gain, u)
      }
      u += 1
    }

    def overload(): Long = {
      var s = 0L; var b = 0
      while (b < k) { s += math.max(0L, blockW(b) - caps(b)); b += 1 }
      s
    }
    var curCut = cut(g, part)
    val startCut = curCut
    var bestCut = curCut
    var curOver = overload()
    val startOver = curOver
    var bestOver = curOver
    val movesBuf = new Array[(Int, Int)](n) // (node, fromBlock)
    var nMoves = 0
    var bestPrefix = 0
    var fruitless = 0

    while (heap.nonEmpty && fruitless < FruitlessMoves && nMoves < n) {
      val heapGain = heap.headPri; val node = heap.headNode
      heap.dequeue()
      if (!locked(node)) {
        val (gain, target) = bestMove(node)
        if (target >= 0) {
          if (gain != heapGain) {
            // stale entry: re-insert with the fresh key
            heap.enqueue(gain, node)
          } else {
            val from = part(node)
            // incremental overload update (identical value to a full overload()
            // recompute — only the two touched blocks change)
            curOver -= math.max(0L, blockW(from) - caps(from)) +
              math.max(0L, blockW(target) - caps(target))
            part(node) = target
            blockW(from) -= g.vwgt(node)
            blockW(target) += g.vwgt(node)
            curOver += math.max(0L, blockW(from) - caps(from)) +
              math.max(0L, blockW(target) - caps(target))
            curCut -= gain
            locked(node) = true
            movesBuf(nMoves) = (node, from)
            nMoves += 1
            val better = curOver < bestOver || (curOver == bestOver && curCut < bestCut)
            if (better) { bestCut = curCut; bestOver = curOver; bestPrefix = nMoves; fruitless = 0 }
            else fruitless += 1
            // refresh unlocked neighbors
            var i = g.xadj(node)
            while (i < g.xadj(node + 1)) {
              val v = g.adjncy(i)
              if (!locked(v)) {
                val (gv, tv) = bestMove(v)
                if (tv >= 0) heap.enqueue(gv, v)
              }
              i += 1
            }
          }
        }
      }
    }
    // rollback beyond the best prefix
    var mi = nMoves - 1
    while (mi >= bestPrefix) {
      val (node, from) = movesBuf(mi)
      part(node) = from
      mi -= 1
    }
    bestOver < startOver || bestCut < startCut
  }

  /** Greedy k-way LP refinement (the sequential analog of the reference's
    * LABEL_PROPAGATION refiner, `lp_refiner.cc`): per node, gather edge weight per
    * adjacent block and move to the best strictly-positive-gain block that fits the
    * cap (or reduces overload if the current block is overloaded). Exact sequential
    * gains — ratings recomputed per node, so no stale-cache issues.
    */
  def kwayLpRefine(g: CsrGraph, part: Array[Int], k: Int, lmax: Long, rand: Random, rounds: Int): Unit =
    kwayLpRefine(g, part, k, Array.fill(k)(lmax), rand, rounds)

  def kwayLpRefine(g: CsrGraph, part: Array[Int], k: Int, caps: Array[Long], rand: Random, rounds: Int): Unit = {
    val blockW = blockWeights(g, part, k)
    val ratings = new mutable.LongMap[Long](64)
    var round = 0
    var moved = 1
    while (round < rounds && moved > 0) {
      moved = 0
      val order = rand.shuffle((0 until g.n).toVector)
      val it = order.iterator
      while (it.hasNext) {
        val u = it.next()
        if (g.degree(u) > 0) {
          ratings.clear()
          var i = g.xadj(u)
          while (i < g.xadj(u + 1)) {
            val b = part(g.adjncy(i))
            ratings(b.toLong) = ratings.getOrElse(b.toLong, 0L) + g.adjwgt(i)
            i += 1
          }
          val cur = part(u)
          val internal = ratings.getOrElse(cur.toLong, 0L)
          var best = cur
          val overloaded = blockW(cur) > caps(cur)
          // overloaded block: accept the least-bad move that reduces overload, even at
          // negative gain (the balancer role); otherwise strictly-positive gain only
          var bestGain = if (overloaded) Long.MinValue else 0L
          ratings.foreachEntry { (bL, r) =>
            val b = bL.toInt
            if (b != cur) {
              val gain = r - internal
              val ok =
                if (overloaded) blockW(b) + g.vwgt(u) < blockW(cur) && blockW(b) + g.vwgt(u) <= caps(b)
                else blockW(b) + g.vwgt(u) <= caps(b) && gain > 0
              if (ok && gain > bestGain) { best = b; bestGain = gain }
            }
          }
          if (best != cur) {
            blockW(cur) -= g.vwgt(u)
            blockW(best) += g.vwgt(u)
            part(u) = best
            moved += 1
          }
        }
      }
      round += 1
    }
  }

  /** Edge cut of a partition (each undirected edge counted once). */
  def cut(g: CsrGraph, part: Array[Int]): Long = {
    var c = 0L
    var u = 0
    while (u < g.n) {
      var i = g.xadj(u)
      while (i < g.xadj(u + 1)) {
        if (part(g.adjncy(i)) != part(u)) c += g.adjwgt(i)
        i += 1
      }
      u += 1
    }
    c / 2
  }

  def blockWeights(g: CsrGraph, part: Array[Int], k: Int): Array[Long] = {
    val w = new Array[Long](k)
    var u = 0
    while (u < g.n) { w(part(u)) += g.vwgt(u); u += 1 }
    w
  }

  // --------------------------------------------------------------------------
  // multilevel 2-way
  // --------------------------------------------------------------------------

  /** Multilevel bisection into side weights ~ (t0, t1) with hard caps (max0, max1). */
  private def multilevelBisect(g: CsrGraph, t0: Long, t1: Long, max0: Long, max1: Long, rand: Random): Array[Int] = {
    // coarsening stack of (finerGraph, fine->coarse mapping); stop below the size
    // threshold or when a level shrinks < 5% (reference convergence_threshold,
    // `presets.cc:186`)
    var cur = g
    val stack = mutable.ArrayBuffer.empty[(CsrGraph, Array[Int])]
    val capBase = math.max(1L, g.totalNodeWeight / 12)
    var converged = false
    while (cur.n > CoarsestSize && !converged) {
      val clustering = lpCluster(cur, capBase, rand, iterations = 3)
      val (coarse, mapping) = contract(cur, clustering)
      if (coarse.n >= cur.n * 0.95) converged = true
      if (coarse.n < cur.n) {
        stack += ((cur, mapping))
        cur = coarse
      }
    }
    uncoarsenBisect(cur, stack, t0, t1, max0, max1, rand)
  }

  private def uncoarsenBisect(
      coarsest: CsrGraph,
      stack: mutable.ArrayBuffer[(CsrGraph, Array[Int])],
      t0: Long,
      t1: Long,
      max0: Long,
      max1: Long,
      rand: Random
  ): Array[Int] = {
    // coarse levels relax the caps by the max (coarse) node weight — a single coarse
    // node is unsplittable, so greedy filling may overshoot the target by up to
    // maxNodeWeight-1; for unit weights this degenerates to the exact cap
    def relax(g: CsrGraph, mx: Long, t: Long): Long = math.max(mx, t + g.maxNodeWeight - 1)
    val side = poolBipartition(coarsest, t0, t1,
      relax(coarsest, max0, t0), relax(coarsest, max1, t1), rand)
    // project up
    var cur = side
    var level = stack.length - 1
    while (level >= 0) {
      val (finer, mapping) = stack(level)
      val projected = new Array[Int](finer.n)
      var u = 0
      while (u < finer.n) { projected(u) = cur(mapping(u)); u += 1 }
      fmRefine(finer, projected, relax(finer, max0, t0), relax(finer, max1, t1),
        slack = math.max(2 * finer.maxNodeWeight, (t0 + t1) / 20))
      cur = projected
      level -= 1
    }
    cur
  }

  // --------------------------------------------------------------------------
  // sequential LP clustering + contraction (coarsening)
  // --------------------------------------------------------------------------

  /** One LP clustering run: node -> cluster leader, cluster weights capped. With
    * `sameBlock`, only neighbors in the node's own block are rated and joined, so no
    * cluster straddles a block (V-cycle coarsening). `rand` is used only for the
    * visit order, and a pass that moves nothing is a fixed point, so stopping there
    * changes no result.
    */
  private def lpCluster(
      g: CsrGraph,
      maxClusterWeight: Long,
      rand: Random,
      iterations: Int,
      sameBlock: Option[Array[Int]] = None): Array[Int] = {
    val part = sameBlock.orNull
    val cluster = Array.tabulate(g.n)(identity)
    val cweight = g.vwgt.clone()
    val order = rand.shuffle((0 until g.n).toVector).toArray
    val ratings = new mutable.LongMap[Long](64)
    var iter = 0
    var moved = 1
    while (iter < iterations && moved > 0) {
      moved = 0
      var oi = 0
      while (oi < g.n) {
        val u = order(oi)
        if (g.degree(u) > 0) {
          ratings.clear()
          var i = g.xadj(u)
          while (i < g.xadj(u + 1)) {
            val v = g.adjncy(i)
            if (part == null || part(v) == part(u)) {
              val c = cluster(v)
              ratings(c.toLong) = ratings.getOrElse(c.toLong, 0L) + g.adjwgt(i)
            }
            i += 1
          }
          val cu = cluster(u)
          var best = cu
          var bestRating = ratings.getOrElse(cu.toLong, 0L)
          ratings.foreachEntry { (cL, r) =>
            val c = cL.toInt
            if (c != cu && (r > bestRating || (r == bestRating && c < best)) &&
              cweight(c) + g.vwgt(u) <= maxClusterWeight && (part == null || part(c) == part(u))) {
              best = c; bestRating = r
            }
          }
          if (best != cu) {
            cweight(cu) -= g.vwgt(u)
            cweight(best) += g.vwgt(u)
            cluster(u) = best
            moved += 1
          }
        }
        oi += 1
      }
      iter += 1
    }
    cluster
  }

  /** Contract a clustering: returns (coarse graph, fine->coarse mapping). */
  private def contract(g: CsrGraph, cluster: Array[Int]): (CsrGraph, Array[Int]) = {
    // dense-relabel leaders (O5/O6 pattern)
    val leaderToCoarse = new mutable.LongMap[Int](g.n)
    val mapping = new Array[Int](g.n)
    var nc = 0
    var u = 0
    while (u < g.n) {
      val c = cluster(u)
      mapping(u) = leaderToCoarse.getOrElseUpdate(c.toLong, { val id = nc; nc += 1; id })
      u += 1
    }
    val vw = new Array[Long](nc)
    u = 0
    while (u < g.n) { vw(mapping(u)) += g.vwgt(u); u += 1 }
    // aggregate inter-cluster edges, dropping self-loops (SURVEY O7)
    val agg = new mutable.LongMap[Long](g.m / 2 + 16)
    u = 0
    while (u < g.n) {
      val cu = mapping(u)
      var i = g.xadj(u)
      while (i < g.xadj(u + 1)) {
        val cv = mapping(g.adjncy(i))
        if (cu != cv) {
          val key = (cu.toLong << 32) | (cv.toLong & 0xffffffffL)
          agg(key) = agg.getOrElse(key, 0L) + g.adjwgt(i)
        }
        i += 1
      }
      u += 1
    }
    val deg = new Array[Int](nc)
    agg.foreachEntry { (key, _) => deg((key >>> 32).toInt) += 1 }
    val xadj2 = new Array[Int](nc + 1)
    var i = 0
    while (i < nc) { xadj2(i + 1) = xadj2(i) + deg(i); i += 1 }
    val adj2 = new Array[Int](xadj2(nc))
    val wgt2 = new Array[Long](xadj2(nc))
    val pos = java.util.Arrays.copyOf(xadj2, nc)
    agg.foreachEntry { (key, w) =>
      val cu = (key >>> 32).toInt
      val cv = (key & 0xffffffffL).toInt
      adj2(pos(cu)) = cv; wgt2(pos(cu)) = w; pos(cu) += 1
    }
    (new CsrGraph(xadj2, adj2, wgt2, vw), mapping)
  }

  // --------------------------------------------------------------------------
  // flat bipartitioner pool (reference `initial_pool_bipartitioner.cc` role)
  // --------------------------------------------------------------------------

  private def poolBipartition(
      g: CsrGraph,
      t0: Long, t1: Long, max0: Long, max1: Long,
      rand: Random
  ): Array[Int] = {
    var best: Array[Int] = null
    var bestScore = (false, Long.MaxValue) // (feasible, cut)
    def consider(side: Array[Int]): Unit = {
      fmRefine(g, side, max0, max1, slack = math.max(2 * g.maxNodeWeight, (t0 + t1) / 20))
      val w = sideWeights(g, side)
      val feasible = w(0) <= max0 && w(1) <= max1
      val c = cut(g, side)
      val better =
        if (feasible != bestScore._1) feasible
        else c < bestScore._2
      if (best == null || better) { best = side.clone(); bestScore = (feasible, c) }
    }
    var rep = 0
    while (rep < 10) { consider(greedyGrow(g, t0, rand, byGain = true)); rep += 1 }
    rep = 0
    while (rep < 5) { consider(greedyGrow(g, t0, rand, byGain = false)); rep += 1 }
    rep = 0
    while (rep < 3) { consider(randomBipartition(g, t0, rand)); rep += 1 }
    best
  }

  private def sideWeights(g: CsrGraph, side: Array[Int]): Array[Long] = {
    val w = new Array[Long](2)
    var u = 0
    while (u < g.n) { w(side(u)) += g.vwgt(u); u += 1 }
    w
  }

  /** Greedy graph growing (byGain) / BFS growing (!byGain): grow block 0 from a random
    * seed until its weight reaches t0; everything else is block 1.
    */
  private def greedyGrow(g: CsrGraph, t0: Long, rand: Random, byGain: Boolean): Array[Int] = {
    val side = Array.fill(g.n)(1)
    val inQueue = new Array[Boolean](g.n)
    var w0 = 0L
    var assigned = 0
    // lazy-deletion max-heap of (priority, node); BFS mode uses FIFO order instead
    val heap = new FmHeap(g.n + 1)
    val queue = mutable.Queue.empty[Int]
    val gain = new Array[Long](g.n) // accumulated edge weight into the growing block

    def frontierEmpty: Boolean = if (byGain) heap.isEmpty else queue.isEmpty
    def seedFrontier(): Boolean = {
      // (re)seed from an unassigned node — handles disconnected graphs
      var s = -1
      var tries = 0
      while (s < 0 && tries < 32) { val c = rand.nextInt(g.n); if (side(c) == 1) s = c; tries += 1 }
      if (s < 0) { var u2 = 0; while (s < 0 && u2 < g.n) { if (side(u2) == 1) s = u2; u2 += 1 } }
      if (s < 0) false
      else {
        if (byGain) heap.enqueue(0L, s) else queue.enqueue(s)
        inQueue(s) = true
        true
      }
    }

    while (w0 < t0 && assigned < g.n) {
      if (frontierEmpty && !seedFrontier()) return side
      val u = if (byGain) { val h = heap.headNode; heap.dequeue(); h } else queue.dequeue()
      if (side(u) == 1) { // not yet taken (lazy deletion)
        side(u) = 0
        w0 += g.vwgt(u)
        assigned += 1
        var i = g.xadj(u)
        while (i < g.xadj(u + 1)) {
          val v = g.adjncy(i)
          if (side(v) == 1) {
            gain(v) += g.adjwgt(i)
            if (byGain) heap.enqueue(gain(v), v)
            else if (!inQueue(v)) { queue.enqueue(v); inQueue(v) = true }
          }
          i += 1
        }
      }
    }
    side
  }

  private def randomBipartition(g: CsrGraph, t0: Long, rand: Random): Array[Int] = {
    val order = rand.shuffle((0 until g.n).toVector)
    val side = Array.fill(g.n)(1)
    var w0 = 0L
    val it = order.iterator
    while (w0 < t0 && it.hasNext) {
      val u = it.next()
      side(u) = 0; w0 += g.vwgt(u)
    }
    side
  }

  // --------------------------------------------------------------------------
  // 2-way FM refinement with best-prefix rollback
  // --------------------------------------------------------------------------

  /** Repeated FM passes until a pass improves neither the cut nor the overload.
    * Mutates side in place and returns the cut delta (the change of
    * [[cut]] plus the exterior's attachment cut).
    *
    * `slack`: temporary cap violation allowed per MOVE (tentative-move semantics) —
    * overload is still measured against the exact caps and the best-prefix rollback
    * only lands on states at least as feasible as the start, so the slack buys the
    * pass the balanced SWAPS that strict per-move caps freeze at tight eps, without
    * ever returning an over-cap result from a feasible start.
    *
    * `fruitlessMoves` cuts a pass off after that many moves without a new best
    * state. `minSourceWeight`: no move may leave its source side lighter.
    *
    * Exterior (the distributed pairwise FM's border region, SURVEY O19): `g` is a
    * region of a larger graph whose other nodes are FIXED. `ext0(u)`/`ext1(u)` is
    * u's edge weight to fixed nodes on side 0/1 and `fixed0`/`fixed1` each side's
    * fixed node weight, so balance holds against the true block weights. Null
    * arrays mean no exterior.
    */
  def fmRefine(
      g: CsrGraph, side: Array[Int], max0: Long, max1: Long, slack: Long = 0L,
      fruitlessMoves: Int = FruitlessMoves, maxPasses: Int = 10, minSourceWeight: Long = 0L,
      ext0: Array[Long] = null, ext1: Array[Long] = null, fixed0: Long = 0L, fixed1: Long = 0L
  ): Long = {
    val w = sideWeights(g, side)
    w(0) += fixed0; w(1) += fixed1
    var total = 0L
    var pass = 0
    var improved = true
    while (pass < maxPasses && improved) {
      val over = overload(w, max0, max1)
      val delta = fmPass(g, side, w, max0, max1, slack, fruitlessMoves, minSourceWeight, ext0, ext1)
      improved = delta < 0L || overload(w, max0, max1) < over
      total += delta
      pass += 1
    }
    total
  }

  private def overload(w: Array[Long], max0: Long, max1: Long): Long =
    math.max(0L, w(0) - max0) + math.max(0L, w(1) - max1)

  /** One FM pass; keeps `w` (the side weights) current. Returns the cut delta. */
  private def fmPass(
      g: CsrGraph, side: Array[Int], w: Array[Long], max0: Long, max1: Long, slack: Long,
      fruitlessMoves: Int, minSourceWeight: Long, ext0: Array[Long], ext1: Array[Long]
  ): Long = {
    val n = g.n
    val maxW = Array(max0, max1)
    // D-values: external - internal weighted degree, attachments included
    val d = new Array[Long](n)
    var u = 0
    var curCut = 0L
    while (u < n) {
      var ext = 0L; var int = 0L
      var i = g.xadj(u)
      while (i < g.xadj(u + 1)) {
        if (side(g.adjncy(i)) != side(u)) ext += g.adjwgt(i) else int += g.adjwgt(i)
        i += 1
      }
      d(u) = ext - int
      curCut += ext
      if (ext0 != null) {
        val own = if (side(u) == 0) ext0(u) else ext1(u)
        val opp = ext0(u) + ext1(u) - own
        d(u) += opp - own
        curCut += 2 * opp // region edges count twice over the loop, attachments once
      }
      u += 1
    }
    curCut /= 2
    val startCut = curCut
    val startOver = overload(w, max0, max1)

    val locked = new Array[Boolean](n)
    // two lazy-deletion heaps keyed by D-value (primitive FmHeap — identical total
    // order (d desc, node asc) to the tuple PriorityQueue it replaces, r06)
    val heaps = Array.fill(2)(new FmHeap(n + 1))
    u = 0
    while (u < n) { heaps(side(u)).enqueue(d(u), u); u += 1 }

    val moves = new Array[Int](n)
    var nMoves = 0
    var bestPrefix = 0
    var bestCut = curCut
    var bestOver = startOver
    var fruitless = 0

    def popValid(s: Int): Int = {
      val h = heaps(s)
      while (h.nonEmpty) {
        val pri = h.headPri; val node = h.headNode
        h.dequeue()
        if (!locked(node) && side(node) == s && d(node) == pri) return node
      }
      -1
    }

    var continue = true
    while (continue && fruitless < fruitlessMoves && nMoves < n) {
      // choose source side: an overloaded side first; else the one with the better top
      val from =
        if (w(0) > max0) 0
        else if (w(1) > max1) 1
        else {
          // peek tops lazily
          def top(s: Int): Long = {
            val h = heaps(s)
            while (h.nonEmpty && {
              val pri = h.headPri; val node = h.headNode
              locked(node) || side(node) != s || d(node) != pri
            }) h.dequeue()
            if (h.isEmpty) Long.MinValue else h.headPri
          }
          val t0v = top(0); val t1v = top(1)
          if (t0v == Long.MinValue && t1v == Long.MinValue) -1
          else if (t0v == t1v) { if (w(0) >= w(1)) 0 else 1 }
          else if (t0v > t1v) 0
          else 1
        }
      if (from < 0) continue = false
      else {
        val to = 1 - from
        // the move must not overload the target (unless source itself is overloaded
        // and the move reduces total overload — reference lp_refiner.cc:185-200 rule)
        var u2 = popValid(from)
        var chosen = -1
        val rejected = mutable.ArrayBuffer.empty[Int]
        while (u2 >= 0 && chosen < 0) {
          val fits = w(to) + g.vwgt(u2) <= maxW(to) + slack
          // when the source side is overloaded, also accept any move that reduces the
          // total overload (reference rule, `lp_refiner.cc:185-200`)
          val afterOver =
            math.max(0L, w(from) - g.vwgt(u2) - maxW(from)) +
              math.max(0L, w(to) + g.vwgt(u2) - maxW(to))
          val reducesOverload = w(from) > maxW(from) && afterOver < overload(w, max0, max1)
          if ((fits || reducesOverload) && w(from) - g.vwgt(u2) >= minSourceWeight) chosen = u2
          else { rejected += u2; u2 = popValid(from) }
        }
        rejected.foreach(r => heaps(from).enqueue(d(r), r))
        if (chosen < 0) {
          continue = false
        } else {
          val g0 = d(chosen)
          side(chosen) = to
          w(from) -= g.vwgt(chosen)
          w(to) += g.vwgt(chosen)
          curCut -= g0
          locked(chosen) = true
          moves(nMoves) = chosen
          nMoves += 1
          // update neighbor D-values
          var i = g.xadj(chosen)
          while (i < g.xadj(chosen + 1)) {
            val v = g.adjncy(i)
            if (!locked(v)) {
              if (side(v) == to) d(v) -= 2 * g.adjwgt(i)
              else d(v) += 2 * g.adjwgt(i)
              heaps(side(v)).enqueue(d(v), v)
            }
            i += 1
          }
          val over = overload(w, max0, max1)
          val better = (over < bestOver) || (over == bestOver && curCut < bestCut)
          if (better) { bestCut = curCut; bestOver = over; bestPrefix = nMoves; fruitless = 0 }
          else fruitless += 1
        }
      }
    }
    // rollback to best prefix
    var mi = nMoves - 1
    while (mi >= bestPrefix) {
      val v = moves(mi)
      w(side(v)) -= g.vwgt(v)
      side(v) = 1 - side(v)
      w(side(v)) += g.vwgt(v)
      mi -= 1
    }
    bestCut - startCut
  }
}
