package graft.ops

import graft.SparkFunSuite
import graft.graph.Graphs
import org.apache.spark.sql.functions._

class GraphsSpec extends SparkFunSuite {
  test("symmetrize dedups, drops self-loops, stores both directions") {
    val s = spark
    import s.implicits._
    val raw = Seq((1L, 2L, 1L), (2L, 1L, 2L), (3L, 3L, 5L), (1L, 2L, 1L), (2L, 4L, 1L))
      .toDF("src", "dst", "w")
    val sym = Graphs.symmetrize(raw)
    val rows = sym.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows === Set((1L, 2L, 4L), (2L, 1L, 4L), (2L, 4L, 1L), (4L, 2L, 1L)))
    assert(Graphs.validate(sym).values.forall(_ == 0L))
  }

  test("degrees and degree buckets") {
    // star: center 0 with 8 leaves -> deg(0)=8 bucket 4; leaves deg 1 bucket 1
    val sym = undirectedUnit((1L to 8L).map(i => (0L, i)))
    val deg = Graphs.degrees(sym).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg(0L) === 8L)
    assert((1L to 8L).forall(deg(_) === 1L))
    val buckets = Graphs.degreeBuckets(sym)
      .groupBy("bucket").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets === Map(4L -> 1L, 1L -> 8L))
  }
}

class PageRankSpec extends SparkFunSuite {
  test("matches dense oracle on a weighted-ish toy graph (allclose 1e-6)") {
    // 6-node graph: path + chord + isolated pair
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L), (4L, 5L))
    val dirEdges = und.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val res = PageRank.run(spark, undirectedUnit(und), iterations = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val oracle = pageRankOracle(6, dirEdges, 20)
    (0 until 6).foreach { i =>
      assert(math.abs(res(i.toLong) - oracle(i)) < 1e-6, s"node $i: ${res(i.toLong)} vs ${oracle(i)}")
    }
    assert(math.abs(res.values.sum - 1.0) < 1e-9)
  }

  test("handles dangling nodes (directed input)") {
    val s = spark
    import s.implicits._
    // 0 -> 1 -> 2, 2 has no out-edges (dangling)
    val e = Seq((0L, 1L, 1L), (1L, 2L, 1L)).toDF("src", "dst", "w")
    val res = PageRank.run(spark, e, iterations = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val oracle = pageRankOracle(3, Seq((0L, 1L), (1L, 2L)), 30)
    (0 until 3).foreach(i => assert(math.abs(res(i.toLong) - oracle(i)) < 1e-6))
    assert(math.abs(res.values.sum - 1.0) < 1e-9)
  }
}

class ConnectedComponentsSpec extends SparkFunSuite {
  test("exact labels: two cliques + bridge + separate path") {
    // clique {0,1,2}, clique {3,4,5} bridged via (2,3); path {6,7}; singleton edge pair {8,9}
    val und = Seq(
      (0L, 1L), (1L, 2L), (0L, 2L),
      (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L),
      (6L, 7L), (8L, 9L)
    )
    val res = ConnectedComponents.run(spark, undirectedUnit(und))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oracle = ufComponents(10, und)
    assert(res === oracle)
  }

  test("long path (stress O(log n) convergence) and determinism") {
    val und = (0L until 63L).map(i => (i, i + 1))
    val res = ConnectedComponents.run(spark, undirectedUnit(und))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res.size === 64 && res.values.forall(_ == 0L))
    val res2 = ConnectedComponents.run(spark, undirectedUnit(und).repartition(7))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res2 === res)
  }
}

class LabelPropagationSpec extends SparkFunSuite {
  test("two cliques joined by a light bridge converge to two communities") {
    val cliqueA = for (i <- 0 until 5; j <- i + 1 until 5) yield (i.toLong, j.toLong)
    val cliqueB = for (i <- 5 until 10; j <- i + 1 until 10) yield (i.toLong, j.toLong)
    val und = cliqueA ++ cliqueB ++ Seq((4L, 5L))
    val res = LabelPropagation.run(spark, undirectedUnit(und))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labA = (0 until 5).map(i => res(i.toLong)).toSet
    val labB = (5 until 10).map(i => res(i.toLong)).toSet
    assert(labA.size === 1, s"clique A not one community: $res")
    assert(labB.size === 1, s"clique B not one community: $res")
    assert(labA != labB)
  }

  test("deterministic across runs and partition counts (same seed)") {
    val und = (0L until 40L).map(i => (i, (i + 1) % 40)) ++ Seq((0L, 20L), (10L, 30L))
    val a = LabelPropagation.run(spark, undirectedUnit(und), maxIter = 8, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = LabelPropagation.run(spark, undirectedUnit(und).repartition(9), maxIter = 8, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a === b)
  }

  test("leaves the caller's cached edge table cached") {
    val und = (0L until 30L).map(i => (i, (i + 1) % 30))
    val edges = undirectedUnit(und).select("src", "dst", "w").persist()
    edges.count()
    val level = edges.storageLevel
    LabelPropagation.run(spark, edges, maxIter = 3, seed = 5L).count()
    assert(edges.storageLevel === level, "LabelPropagation.run dropped the caller's cache")
    edges.unpersist()
  }

  test("dense relabel produces consecutive ids") {
    val s = spark
    import s.implicits._
    val labels = Seq((1L, 100L), (2L, 100L), (3L, 7L), (4L, 9000L)).toDF("node", "label")
    val rl = LabelPropagation.denseRelabel(labels)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(rl === Map(1L -> 1L, 2L -> 1L, 3L -> 0L, 4L -> 2L))
  }
}

class TrianglesSpec extends SparkFunSuite {
  test("cliques have C(k,3) triangles; trees have none") {
    val k5 = for (i <- 0 until 5; j <- i + 1 until 5) yield (i.toLong, j.toLong)
    assert(Triangles.count(spark, undirectedUnit(k5)).first().getLong(0) === 10L)
    val path = (0L until 10L).map(i => (i, i + 1))
    assert(Triangles.count(spark, undirectedUnit(path)).first().getLong(0) === 0L)
  }

  test("per-node counts on K4: every node in C(3,2)=3 triangles") {
    val k4 = for (i <- 0 until 4; j <- i + 1 until 4) yield (i.toLong, j.toLong)
    val per = Triangles.perNode(spark, undirectedUnit(k4))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(per === (0 until 4).map(i => i.toLong -> 3L).toMap)
  }
}
