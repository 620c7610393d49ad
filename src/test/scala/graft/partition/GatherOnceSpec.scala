package graft.partition

import graft.SparkFunSuite
import graft.util.Stage
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.{BloomFilterAggregate, MaxBy}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** One LP superstep plans its gather -> argmax subtree once. The per-node move
  * candidates feed two consumers (a per-target aggregate and a join); unless they
  * are staged, Spark plans the whole gather twice within the superstep's plan. And
  * superstep after superstep, the plans stay those of the true table sizes: a
  * staged table that kept its origin plan's statistics makes Catalyst inject
  * runtime bloom filters into the next superstep's joins.
  */
class GatherOnceSpec extends SparkFunSuite with AdaptiveSparkPlanHelper {

  private def argmaxAggregates(plan: LogicalPlan): Int = plan.collect {
    case a: Aggregate if a.aggregateExpressions.exists(_.find(_.isInstanceOf[MaxBy]).isDefined) => a
  }.size

  /** Every query `body` runs, executed. */
  private def queriesOf(body: => Unit): Seq[QueryExecution] = {
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val marker = s"marker_${System.nanoTime()}"
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        queries.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive asynchronously and in order: once the marker query's
      // plan is in, so is every plan before it
      spark.range(1).toDF(marker).collect()
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(queries.toArray.exists(
          _.asInstanceOf[QueryExecution].optimizedPlan.output.exists(_.name == marker)))
      }
    } finally spark.listenerManager.unregister(listener)
    queries.toArray.toSeq.map(_.asInstanceOf[QueryExecution])
  }

  /** Optimized plans of every query `body` runs. */
  private def plansOf(body: => Unit): Seq[LogicalPlan] = queriesOf(body).map(_.optimizedPlan)

  /** Executed plans (subqueries included) of `body`'s queries that carry a runtime
    * bloom filter.
    */
  private def bloomFiltered(body: => Unit): Seq[String] =
    queriesOf(body).map(_.executedPlan).filter { plan =>
      collectWithSubqueries(plan) { case node => node }.exists(_.expressions.exists(_.exists {
        case _: BloomFilterMightContain | _: BloomFilterAggregate => true
        case _ => false
      }))
    }.map(_.treeString)

  private def graph = {
    val rnd = new scala.util.Random(5)
    val n = 120
    val edgeSet = scala.collection.mutable.Set.empty[(Long, Long)]
    (0 until n).foreach(i => edgeSet += ((i.toLong, ((i + 1) % n).toLong)))
    (0 until 2 * n).foreach { _ =>
      val a = rnd.nextInt(n); val b = rnd.nextInt(n)
      if (a != b) edgeSet += ((math.min(a, b).toLong, math.max(a, b).toLong))
    }
    (n, undirectedUnit(edgeSet.toSeq))
  }

  private def assertOnce(plans: Seq[LogicalPlan]): Unit = {
    val counts = plans.map(argmaxAggregates).filter(_ > 0)
    assert(counts === Seq(1), s"argmax aggregates per plan: $counts")
  }

  test("one lpCluster superstep plans the argmax aggregate exactly once") {
    val (n, edges) = graph
    val s = spark
    import s.implicits._
    val nodeW = (0 until n).map(i => (i.toLong, 1L)).toDF("node", "weight")
    assertOnce(plansOf {
      Stage.scope(st =>
        DistCoarsener.lpCluster(st, spark, edges, nodeW, cap = 8L, maxIter = 1, seed = 3L))
    })
  }

  test("one lpRefineCaps superstep plans the argmax aggregate exactly once") {
    val (n, edges) = graph
    val s = spark
    import s.implicits._
    val nodeW = (0 until n).map(i => (i.toLong, 1L)).toDF("node", "weight")
    val part = (0 until n).map(i => (i.toLong, (i * 7) % 4)).toDF("node", "block")
    val ge = Gather.plain(edges.repartition(col("dst")))
    assertOnce(plansOf {
      Stage.scope(st => st.memory(DistRefiner.lpRefineCaps(st, spark, ge,
        st.memory(part.join(nodeW, "node"))._1, 4, Array.fill(4)(40L), maxIter = 1, seed = 3L).out.part))
    })
  }

  test("lpCluster and lpRefineCaps supersteps on the Walshaw graph plan no runtime bloom filter") {
    val csr = graft.graph.MetisIO.readCsrResource("/data.graph")
    val edges = graft.graph.MetisIO.readEdges(spark, csr).cache()
    val nodeW = graft.graph.Graphs.vertices(edges).cache()
    val ge = Gather.plain(edges.repartition(col("dst")).cache())
    val part = nodeW.select(col("node"), pmod(xxhash64(col("node")), lit(16)).cast("int").as("block"))
    try {
      val filtered = bloomFiltered {
        Stage.scope(st => st.memory(
          DistCoarsener.lpCluster(st, spark, edges, nodeW, cap = 40L, maxIter = 5, seed = 0L)))
        Stage.scope(st => st.memory(DistRefiner.lpRefineCaps(st, spark, ge,
          st.memory(part.join(nodeW, "node"))._1, 16, Array.fill(16)(190L), maxIter = 3, seed = 0L)
          .out.part))
      }
      assert(filtered.isEmpty,
        s"${filtered.size} queries with a runtime bloom filter, the first:\n${filtered.headOption.orNull}")
    } finally Seq(ge.e, nodeW, edges).foreach(_.unpersist())
  }
}
