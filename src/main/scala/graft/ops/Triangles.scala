package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import graft.util.Stage

/** Triangle counting by degree-ordered orientation (north-star companion operator).
  *
  * Each undirected edge is oriented from its (degree, id)-smaller endpoint to the
  * larger one; a triangle is then exactly one wedge e1(u->v), e2(v->w) closed by
  * e3(u->w). Orientation bounds every node's out-degree by O(sqrt(m)), which bounds the
  * wedge join fan-out — the standard trick that makes the self-join survive
  * power-law degree skew (hub pages get high IN-degree in the oriented graph, and the
  * wedge join keys on the *out* side). AQE skew-join handling covers the residue.
  */
object Triangles {

  /** Oriented edge table: each undirected edge once, (degree,id)-ascending. */
  def orient(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("node"))
      .agg(functions.count(lit(1)).cast("long").as("deg"))
    val e = edges
      .join(deg.select(col("node").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("ddeg")), "dst")
      .filter(
        (col("sdeg") < col("ddeg")) ||
          (col("sdeg") === col("ddeg") && col("src") < col("dst"))
      )
      .select(col("src"), col("dst"))
    e
  }

  /** Total triangle count (one row: `triangles BIGINT`). */
  def count(spark: SparkSession, edges: DataFrame): DataFrame = Stage.scope { st =>
    // written durably once (parquet round-trip) so the 3-way self-join reads files, not
    // a 3x-recomputed orient plan — and nothing stays pinned in executor memory.
    // Deliberately NOT a lazy cache (r06 A/B: persist() measured +3 s): the parquet
    // files carry accurate size stats at PLANNING time, which is what lets the
    // closing e3 join plan as a broadcast hash join — with a lazy cache the
    // stats are the huge pre-aggregation estimate, the join plans as sort-merge,
    // and the whole wedge stream gets shuffled (guide §3.1).
    val o = st.durable(orient(edges), "tri-orient")
    val e1 = o.as("e1")
    val e2 = o.as("e2")
    val e3 = o.as("e3")
    val res = e1
      .join(e2, col("e1.dst") === col("e2.src"))
      .join(e3, col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("triangles"))
    res
  }

  /** Per-node triangle participation counts: (node, triangles). */
  def perNode(spark: SparkSession, edges: DataFrame): DataFrame = Stage.scope { st =>
    val o = st.durable(orient(edges), "tri-orient")
    val e1 = o.as("e1")
    val e2 = o.as("e2")
    val e3 = o.as("e3")
    val tris = e1
      .join(e2, col("e1.dst") === col("e2.src"))
      .join(e3, col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("triangles"))
  }
}
