package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.{RunCheckpoint, Stage}

/** PageRank as an iterative batch of shuffle-hash-join gather-scatter supersteps
  * (north-star companion operator; standard public semantics — damping 0.85, dangling
  * mass redistributed uniformly; see FIXTURES.md §5).
  *
  * One superstep = `ranks JOIN edges ON node = src` (contribution scatter) then
  * `GROUP BY dst` (gather sum). At cluster scale the edge table is bucketed/partitioned
  * by `src`, so the big side never re-shuffles: the per-iteration cost is one shuffle of
  * the (n-row) rank table plus one map-side-combined aggregation of contributions.
  * [[run]] truncates lineage every `checkpointEvery` supersteps with a durable stage
  * (a parquet write and read-back) so the plan does not grow with iteration count;
  * [[runResumable]] writes every superstep's state durably instead (Iceberg
  * snapshots with per-iteration metrics rows in prod), which both truncates lineage
  * and makes the run resumable from the last superstep. Both write their ranks
  * durably and release the edge and base tables they stage before returning.
  */
object PageRank {

  /** @param edges symmetric or directed edge table (src, dst, w) — contributions are
    *              uniform over out-edges (unweighted PageRank).
    * @return (node BIGINT, pr DOUBLE); sum(pr) == 1 up to float error.
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      iterations: Int,
      damping: Double = 0.85,
      checkpointEvery: Int = 8
  ): DataFrame =
    Stage.scope { st =>
      val state = supersteps(st, edges, iterations, damping, None) { step =>
        if (step.index % checkpointEvery == 0 && step.index < iterations)
          st.durable(step.next, "pr-ranks").repartition(col("node"))
        else step.next
      }
      // the lazy ranks read the scope's staged tables: the result is the one write
      st.durable(state.select(col("node"), col("pr")), "pr-out")
    }

  /** Resumable variant: every superstep's state is durably checkpointed with a
    * metrics row (superstep, l1 delta, wall ms); a restarted run continues from the
    * latest committed superstep instead of recomputing (north rule: resumable
    * convergence with per-partition lineage + per-iteration metrics). The superstep
    * loop is [[run]]'s — a fresh N-iteration run and an interrupted-then-resumed one
    * produce the same ranks. The result is read back from the last checkpoint.
    */
  def runResumable(
      spark: SparkSession,
      edges: DataFrame,
      iterations: Int,
      run: RunCheckpoint,
      damping: Double = 0.85
  ): DataFrame = {
    val resumeFrom = run.latestStep.map(s => (s, run.load(spark, s))) // 1-based supersteps
    val state = Stage.scope(st => supersteps(st, edges, iterations, damping, resumeFrom) { step =>
      val saved = run.save(step.index, step.next) // durable write first; delta read is cheap after
      val l1 = saved.join(step.prev.select(col("node"), col("pr").as("prevPr")), "node")
        .agg(sum(abs(col("pr") - col("prevPr")))).first().getDouble(0)
      val wallMs = (System.nanoTime() - step.startNs) / 1000000
      run.appendMetrics(step.index, Map("l1_delta" -> l1, "wall_ms" -> wallMs, "n" -> step.n.toLong))
      saved
    })
    run.markDone()
    state.select(col("node"), col("pr"))
  }

  /** A finished superstep: its 1-based index, the node count, its start time, and the
    * state (node, outdeg, pr) before and after it.
    */
  private final case class Step(index: Int, n: Double, startNs: Long, prev: DataFrame, next: DataFrame)

  /** The superstep loop shared by [[run]] and [[runResumable]], from the initial
    * uniform state or from `resumeFrom` = (superstep, state). `afterStep` gets each
    * finished superstep and returns the state the loop continues from (the place to
    * cut lineage). Returns the final (node, outdeg, pr) state, which may read the
    * tables staged in `st`.
    */
  private def supersteps(
      st: Stage,
      edges: DataFrame,
      iterations: Int,
      damping: Double,
      resumeFrom: Option[(Int, DataFrame)]
  )(afterStep: Step => DataFrame): DataFrame = {
    // Co-partitioning contract: the (big) edge table is hash-partitioned by src ONCE
    // and staged; every superstep's gather join then reuses that partitioning, so only
    // the n-row state table moves through the shuffle — the edge table never
    // re-shuffles (the north-star "CSR-partitioned adjacency" in DataFrame terms; on a
    // real cluster this is the bucketed-by-src Iceberg layout).
    // sortWithinPartitions(src): the staged table carries its output ordering, so
    // every superstep's sort-merge gather join skips re-sorting the m-row edge side
    // (r06; the at-rest analog is a bucketed+sorted-by-src Iceberg layout) — only
    // the n-row rank state is sorted per superstep.
    val (e, _) = st.memory(Stage.byKey(edges.select(col("src"), col("dst")), "src"))
    // static per-node base: node list with out-degree in ONE hash aggregation (each
    // edge emits (src, 1) and (dst, 0); sum of flags = out-degree, and every node of
    // either endpoint role appears), so the edge stream shuffles once (guide
    // §2.3/§2.4). Out-degree rides in the iterated state, saving a join per superstep.
    // n is its row count, and its staging job counts the dangling nodes.
    val basePlan = e
      .select(explode(array(
        struct(col("src").as("node"), lit(1L).as("c")),
        struct(col("dst").as("node"), lit(0L).as("c"))
      )).as("p"))
      .groupBy(col("p.node").as("node"))
      .agg(sum(col("p.c")).as("outdeg"))
    val outdeg = Stage.field(basePlan, "outdeg")
    val (base, rows, dangling) = st.memory(basePlan,
      Stage.fold(() => 0L)((acc, row) => if (outdeg(row) == 0L) acc + 1L else acc)(_ + _))
    val n = rows.toDouble
    // Dangling mass (nodes with no out-edges) is redistributed uniformly. On symmetric
    // link graphs there are none; detect that once so the common case pays no extra
    // per-iteration driver action.
    val hasDangling = dangling > 0L

    var (it, state) = resumeFrom.getOrElse((0, base.withColumn("pr", lit(1.0 / n))))
    while (it < iterations) {
      val t0 = System.nanoTime()
      val dangling =
        if (!hasDangling) 0.0
        else state.filter(col("outdeg") === 0L)
          .agg(coalesce(sum(col("pr")), lit(0.0))).first().getDouble(0)
      val contribs = state
        .filter(col("outdeg") > 0L)
        .join(e, col("node") === col("src"))
        .select(col("dst"), (col("pr") / col("outdeg")).as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("contrib"))
      val next = base
        .join(contribs, col("node") === col("dst"), "left")
        .select(
          col("node"), col("outdeg"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("contrib"), lit(0.0)) + lit(dangling / n)))
            .as("pr")
        )
      it += 1
      state = afterStep(Step(it, n, t0, state, next))
    }
    state
  }
}
