package graft.util

import graft.SparkFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{RDDScanExec, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** In-memory staging: results equal the unstaged plan, the statistics of a long
  * chain of self-joining stages stay bounded (a plain local checkpoint carries the
  * origin plan's statistics, whose size estimate squares at every self-join), a
  * staged table keeps the partitioning and ordering of the plan it staged, and a
  * scope releases what it staged — a child scope before its parent, and on a throw.
  */
class StageSpec extends SparkFunSuite with AdaptiveSparkPlanHelper {

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  test("25 chained self-joining stages keep the optimized plan's sizeInBytes bounded") {
    val before = persisted
    Stage.scope { st =>
      var df = spark.range(200).select(col("id"), (col("id") % 7).as("v"))
      var expected = (0L until 200L).map(i => i -> i % 7).toMap
      for (_ <- 0 until 25) {
        // each step joins the previous stage with itself: without the reset, the
        // join's size estimate is the product of its two children's
        val next = df.join(df.select(col("id"), col("v").as("v2")), "id")
          .select(col("id"), ((col("v") + col("v2")) % 1000003L).as("v"))
        val (s, rows) = st.memory(next)
        assert(rows === 200L)
        df = s
        expected = expected.map { case (i, v) => i -> (v + v) % 1000003L }
      }
      val size = df.join(df.select(col("id"), col("v").as("v2")), "id")
        .queryExecution.optimizedPlan.stats.sizeInBytes
      assert(size < BigInt(1L << 40), s"sizeInBytes $size")
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
    }
    assert((persisted -- before).isEmpty)
  }

  test("a scope stages in memory, from pool threads too, and releases it on close") {
    val before = persisted
    val dir = java.nio.file.Paths.get(Stage.baseDir)
    def written = if (java.nio.file.Files.isDirectory(dir)) {
      val ls = java.nio.file.Files.list(dir)
      try ls.count() finally ls.close()
    } else 0L
    val filesBefore = written
    val total = Stage.scope { st =>
      val (c, n) = st.memory(spark.range(50).toDF("x"))
      assert(n === 50L)
      // a thread the scope's owner starts stages into the same scope
      val Seq(d) = Par.awaitAll(Seq(() => st.memory(c.filter(col("x") < 10))._1))
      assert((persisted -- before).size === 2)
      d.agg(sum(col("x"))).first().getLong(0)
    }
    assert(total === 45L)
    assert(written === filesBefore, "a memory stage wrote to parquet")
    assert((persisted -- before).isEmpty)
  }

  test("a staged key-partitioned, key-sorted table joins on the key with no exchange or sort") {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "-1")
    try Stage.scope { st =>
      val (staged, _) = st.memory(
        Stage.byKey(spark.range(400).select((col("id") % 97).as("k"), col("id").as("v")), "k"))
      val other = spark.range(300).select((col("id") % 89).as("k"), col("id").as("u"))
      val joined = staged.join(other, "k")
      val got = joined.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val expected = for {
        v <- 0L until 400L
        u <- 0L until 300L if u % 89 == v % 97
      } yield (v % 97, v, u)
      assert(got.toSeq === expected.sorted)
      val joins = collect(joined.queryExecution.executedPlan) { case j: SortMergeJoinExec => j }
      assert(joins.size === 1, joined.queryExecution.executedPlan.toString)
      val Seq(stagedSide) =
        joins.head.children.filter(c => collect(c) { case s: RDDScanExec => s }.nonEmpty)
      val redone = collect(stagedSide) {
        case e: ShuffleExchangeExec => e.nodeName
        case s: SortExec => s.nodeName
      }
      assert(redone.isEmpty, s"the staged side re-ran ${redone.mkString(", ")}:\n$stagedSide")
    } finally saved.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }

  test("a child scope releases its blocks while the parent's survive") {
    val before = persisted
    Stage.scope { st =>
      val (outer, _) = st.memory(spark.range(30).toDF("x"))
      val (cached, rows) = st.memory(spark.range(40).toDF("y").filter(col("y") > 3))
      assert(rows === 36L)
      val parentOwned = persisted -- before
      assert(parentOwned.size === 2)
      val inner = st.scope { in =>
        val (l, _) = in.memory(outer.filter(col("x") % 2 === 0))
        val (m, _) = in.memory(l.select((col("x") * 10).as("x")))
        assert((persisted -- before -- parentOwned).size === 2)
        st.memory(m)._1 // staged in the parent: outlives the child
      }
      // the child's two tables are gone; the parent's two and its new stage remain
      assert(parentOwned.subsetOf(persisted))
      assert((persisted -- before).size === 3)
      assert(inner.agg(sum(col("x"))).first().getLong(0) === (0L until 30L by 2L).sum * 10L)
      assert(outer.count() === 30L && cached.count() === 36L)
    }
    assert((persisted -- before).isEmpty)
  }

  test("a throwing body still releases everything") {
    val before = persisted
    val err = intercept[IllegalStateException] {
      Stage.scope { st =>
        st.memory(spark.range(20).toDF("x"))
        st.memory(spark.range(25).toDF("y"))._1.count()
        st.scope { in =>
          in.memory(spark.range(5).toDF("z"))._1.count()
          throw new IllegalStateException("boom")
        }
      }
    }
    assert(err.getMessage === "boom")
    assert((persisted -- before).isEmpty)
  }

  /** Spark jobs `body` submits. Listener events arrive in order, so once a marker
    * job submitted after `body` is seen, so is every job of `body`.
    */
  private def jobsOf(body: => Unit): Int = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      val marker = s"marker-${System.nanoTime()}"
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      eventually(timeout(30.seconds), interval(50.millis)) { assert(seen.contains(marker)) }
      seen.size - 1
    } finally sc.removeSparkListener(listener)
  }

  test("st.durable submits no Spark job after its write") {
    val df = spark.range(40).select(col("id").as("node"), (col("id") % 3).cast("int").as("block"))
    val writeOnly = jobsOf(df.write.parquet(s"${Stage.baseDir}/durable-spec-${System.nanoTime()}"))
    Stage.scope { st =>
      var back: org.apache.spark.sql.DataFrame = null
      val durable = jobsOf { back = st.durable(df, "durable-spec") }
      assert(durable === writeOnly, s"st.durable ran $durable jobs, its write alone $writeOnly")
      assert(back.schema.map(f => (f.name, f.dataType)) === df.schema.map(f => (f.name, f.dataType)))
      assert(back.collect().map(r => (r.getLong(0), r.getInt(1))).sorted ===
        df.collect().map(r => (r.getLong(0), r.getInt(1))).sorted)
    }
  }
}
