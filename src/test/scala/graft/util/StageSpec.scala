package graft.util

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** In-memory staging: results equal the unstaged plan, the statistics of a long
  * chain of self-joining stages stay bounded (a plain local checkpoint carries the
  * origin plan's statistics, whose size estimate squares at every self-join), and a
  * scope releases what it staged.
  */
class StageSpec extends SparkFunSuite {

  test("25 chained self-joining stages keep the optimized plan's sizeInBytes bounded") {
    var df = spark.range(200).select(col("id"), (col("id") % 7).as("v"))
    val staged = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    var expected = (0L until 200L).map(i => i -> i % 7).toMap
    for (_ <- 0 until 25) {
      // each step joins the previous stage with itself: without the reset, the
      // join's size estimate is the product of its two children's
      val next = df.join(df.select(col("id"), col("v").as("v2")), "id")
        .select(col("id"), ((col("v") + col("v2")) % 1000003L).as("v"))
      val (s, rows) = Stage.memory(next)
      assert(rows === 200L)
      staged += s
      df = s
      expected = expected.map { case (i, v) => i -> (v + v) % 1000003L }
    }
    val size = df.join(df.select(col("id"), col("v").as("v2")), "id")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size < BigInt(1L << 40), s"sizeInBytes $size")
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    staged.foreach(Par.releaseLocalCkpt)
  }

  test("inside a scope Ckpt stages in memory and the scope releases it") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val dir = java.nio.file.Paths.get(Ckpt.baseDir)
    def written = if (java.nio.file.Files.isDirectory(dir)) {
      val ls = java.nio.file.Files.list(dir)
      try ls.count() finally ls.close()
    } else 0L
    val filesBefore = written
    val total = Stage.scoped {
      val (c, n) = Ckpt.counted(spark.range(50).toDF("x"), "t")
      assert(n === 50L)
      // a thread the scope starts stages in memory too
      val Seq(d) = Par.awaitAll(Seq(() => Ckpt(c.filter(col("x") < 10), "t")))
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size === 2)
      d.agg(sum(col("x"))).first().getLong(0)
    }
    assert(total === 45L)
    assert(written === filesBefore, "a scoped Ckpt wrote to parquet")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
