package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Stage
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Connected components via alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the north-star-mandated
  * algorithm. Converges in O(log n) supersteps (vs O(diameter) for naive min-label
  * flooding), which is the property that matters on web graphs whose diameter is large.
  *
  * Each phase is one shuffle: group the current edge set by node, compute the min of
  * the neighborhood, re-emit star edges. The edge set only shrinks toward the final
  * star forest, so per-superstep cost decreases. Deterministic: pure min/grouping, no
  * randomness. Fixpoint detection compares (count, xor-of-hashes) between rounds —
  * folded by each round's staging job, no expensive except().
  *
  * The reference ships a sequential CC tool (`/root/reference/apps/tools/
  * ConnectedComponentsTool.cc`) as a companion utility; this operator supersedes it
  * (SURVEY.md P6).
  */
object ConnectedComponents {

  /** @param edges symmetric edge table (src, dst, w) — weights ignored.
    * @return (node BIGINT, component BIGINT) where component = min node id of the
    *         connected component (exact labels at convergence).
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 50): DataFrame = Stage.scope { st =>
    // Per-round state staging is one in-memory stage whose job also folds the
    // fixpoint signature (count, xor of xxhash64(u, v) — order-independent,
    // overflow-free): ONE job per round, no parquet round trip, and fresh statistics
    // however many rounds run. A round's staged pairs are dead as soon as the next
    // round is staged: a slow convergence must not pin O(rounds) copies of the pair
    // table.
    def stageWithSig(df: DataFrame): (DataFrame, (Long, Long)) = {
      val (staged, n, h) = st.memory(df, pairHashFold(df))
      (staged, (n, h))
    }

    // undirected edges as canonical pairs u > v (self-loops impossible downstream)
    var (pairs, sig) = stageWithSig(
      edges
        .filter(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("u"), least(col("src"), col("dst")).as("v"))
        .distinct())

    // consumed exactly once (final labeling join) — no persist needed
    val allNodes = edges.select(col("src").as("node")).distinct()
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      // large-star: per node u over full neighborhood Γ(u) (both directions),
      // m = min(Γ(u) ∪ {u}); connect every strictly larger neighbor to m.
      // Exchange discipline (r06, guide §2.4): each phase's stream is hash-
      // partitioned by `u` exactly ONCE — the min aggregation, the min-join and the
      // dedup (distinct = groupBy(u, v), for which HashPartitioning(u) suffices)
      // all reuse that one layout, where the unpartitioned stream re-exchanged for
      // each of them (6 m-row exchanges per round, now 3).
      val sym = pairs
        .select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v"))
        )).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .repartition(col("u"))
      val mins = sym.groupBy(col("u")).agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = sym
        .join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .repartition(col("u"))
        .distinct()

      // small-star: orient larger -> smaller (already canonical in `large`),
      // per node u with smaller neighbors Γ<(u): m = min; connect u and all of Γ< to m.
      // `large` is already partitioned by u, so the aggregation and join are
      // exchange-free.
      val minsS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large
        .join(minsS, "u")
        .select(col("v").as("a"), col("m"), col("u").as("uu"))
      val (rewired, newSig) = stageWithSig(
        small
          .select(explode(array(col("a"), col("uu"))).as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .repartition(col("u"))
          .distinct())

      st.release(pairs)
      converged = newSig == sig
      sig = newSig
      pairs = rewired
      it += 1
    }

    // final star forest written once (flat scan + fresh leaf stats for the caller);
    // the scope releases the last staged round when it closes
    val finalPairs = st.durable(pairs.select(col("u"), col("v")), "cc-pairs-out")
    allNodes
      .join(finalPairs.select(col("u").as("node"), col("v").as("root")), Seq("node"), "left")
      .select(col("node"), coalesce(col("root"), col("node")).as("component"))
  }

  /** bit_xor of xxhash64(u, v) over the staged pairs: Spark's xxhash64 with its
    * default seed 42, hashing u and then v.
    */
  private def pairHashFold(df: DataFrame): Stage.Fold[Long] = {
    val (u, v) = (Stage.field(df, "u"), Stage.field(df, "v"))
    Stage.fold(() => 0L)((acc, row) =>
      acc ^ XXH64.hashLong(v(row), XXH64.hashLong(u(row), 42L)))(_ ^ _)
  }
}
