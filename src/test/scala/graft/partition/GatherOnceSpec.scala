package graft.partition

import graft.SparkFunSuite
import graft.util.Stage
import org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** One LP superstep plans its gather -> argmax subtree once. The per-node move
  * candidates feed two consumers (a per-target aggregate and a join); unless they
  * are staged, Spark plans the whole gather twice within the superstep's plan.
  */
class GatherOnceSpec extends SparkFunSuite {

  private def argmaxAggregates(plan: LogicalPlan): Int = plan.collect {
    case a: Aggregate if a.aggregateExpressions.exists(_.find(_.isInstanceOf[MaxBy]).isDefined) => a
  }.size

  /** Optimized plans of every query `body` runs. */
  private def plansOf(body: => Unit): Seq[LogicalPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
    val marker = s"marker_${System.nanoTime()}"
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.optimizedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive asynchronously and in order: once the marker query's
      // plan is in, so is every plan before it
      spark.range(1).toDF(marker).collect()
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(plans.toArray.exists(_.asInstanceOf[LogicalPlan].output.exists(_.name == marker)))
      }
    } finally spark.listenerManager.unregister(listener)
    plans.toArray.toSeq.map(_.asInstanceOf[LogicalPlan])
  }

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
    val ge = Gather.plain(edges.repartition(org.apache.spark.sql.functions.col("dst")))
    assertOnce(plansOf {
      Stage.scope(st => st.memory(DistRefiner.lpRefineCaps(st, spark, ge,
        st.local(part.join(nodeW, "node")), 4, Array.fill(4)(40L), maxIter = 1, seed = 3L)))
    })
  }
}
