package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.Graphs

/** Dev tool: physical-plan audit of the hot queries — verifies the properties the
  * engine's 100 TB design depends on, without executing anything:
  *  - parquet scans are column-pruned (ReadSchema carries only needed columns) and
  *    filter-pushed (PushedFilters non-empty where applicable);
  *  - the k-row / dictionary-sized join sides are broadcast;
  *  - the gather/agg kernels sit inside WholeStageCodegen spans.
  * Prints a PASS/FAIL line per property plus the offending plan on failure.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      // audit-only: AQE wraps plans in AdaptiveSparkPlan whose codegen annotations
      // only materialize at runtime; disable it so the static plan shows the spans
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var failures = 0
    def check(name: String, df: DataFrame, mustContain: Seq[String], mustNotContain: Seq[String] = Nil): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val missing = mustContain.filterNot(plan.contains)
      val present = mustNotContain.filter(plan.contains)
      if (missing.isEmpty && present.isEmpty) println(s"PASS $name")
      else {
        failures += 1
        println(s"FAIL $name missing=$missing unexpected=$present")
        println(plan.linesIterator.take(60).mkString("\n"))
      }
    }

    // 1. column pruning: degree query over lineitem must read only the 2 key columns,
    // and the symmetrize must NOT duplicate the scan (single parquet scan)
    check(
      "degrees_column_pruning_single_scan",
      Graphs.degrees(Graphs.bipartite(spark, sfDir)),
      mustContain = Seq("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>"),
      mustNotContain = Seq("(10) Scan parquet") // a second scan would get node id >= 10
    )

    // 2. filter pushdown into the parquet scan
    check(
      "filter_pushdown",
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("lang") === "en").select(col("doc_id")),
      mustContain = Seq("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]",
        "ReadSchema: struct<doc_id:bigint,lang:string>")
    )

    // 3. broadcast of the small query side in brute-force knn
    val v = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    check(
      "knn_broadcasts_queries",
      graft.sim.Similarity.bruteForceKnn(v.filter(col("id") < 10), v, 5),
      mustContain = Seq("BroadcastNestedLoopJoin")
    )

    // 4. PageRank superstep: gather join + partial aggregation in codegen
    val edges = Graphs.bipartite(spark, sfDir)
    check(
      "pagerank_superstep_codegen",
      {
        val outDeg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
        val ranks = edges.select(col("src").as("node")).distinct().withColumn("pr", lit(1.0))
        ranks.join(outDeg, Seq("node")).join(edges, col("node") === col("src"))
          .select(col("dst"), (col("pr") / col("outdeg")).as("c"))
          .groupBy(col("dst")).agg(sum(col("c")))
      },
      mustContain = Seq("HashAggregate"),
      mustNotContain = Seq("CartesianProduct")
    )

    // 5. edge build: ONE scan, ONE shuffle hash-agg pair (partial+final), then the
    // map-side explode — no duplicated aggregation chain
    check(
      "edge_build_single_agg",
      Graphs.bipartite(spark, sfDir),
      mustContain = Seq("HashAggregate", "hashpartitioning", "Generate"),
      mustNotContain = Seq("CartesianProduct", "Union")
    )

    // 6. codegen spans present in the executed plan — the `*(N)` stage markers; every
    // compute stage of the degree pipeline must sit inside one
    val simple = Graphs.degrees(Graphs.bipartite(spark, sfDir))
      .queryExecution.executedPlan.toString
    val uncodegened = simple.linesIterator
      .filter(l => l.contains("HashAggregate") || l.contains("Project") || l.contains("Generate"))
      .filterNot(_.contains("*("))
      .toList
    if (simple.contains("*(1)") && uncodegened.isEmpty) println("PASS codegen_spans")
    else { failures += 1; println(s"FAIL codegen_spans outside=$uncodegened"); println(simple.take(1500)) }

    // 7. url->id dense rank (S9) must not contain a global window or a
    // single-partition exchange — the round-1 scale-killer, now rank-compaction
    {
      import org.apache.spark.sql.execution.window.WindowExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
      val urls = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(concat(lit("doc://"), col("doc_id")).as("url"))
      val plan = graft.graph.Ranks.localRanked(urls, "url").queryExecution.executedPlan
      val globalWin = plan.collectWithSubqueries {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      val singles = plan.collectWithSubqueries {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      if (globalWin.isEmpty && singles.isEmpty) println("PASS dense_rank_distributed")
      else { failures += 1; println(s"FAIL dense_rank_distributed win=$globalWin single=$singles") }
    }

    // 8. JET move admission (round-3 fix): proportional coin, NOT a per-target sort
    // window — no WindowExec and no SortExec anywhere in the admission plan
    {
      import org.apache.spark.sql.execution.window.WindowExec
      import org.apache.spark.sql.execution.SortExec
      import spark.implicits._
      val movers = Seq((1L, 0, 1L, 5L), (2L, 0, 1L, 5L), (3L, 1, 1L, 2L))
        .toDF("src", "cand", "nw", "allow")
      val plan = graft.partition.DistRefiner.admitProportional(movers, lit(7L))
        .queryExecution.executedPlan
      val wins = plan.collectWithSubqueries { case w: WindowExec => w }
      val sorts = plan.collectWithSubqueries { case s: SortExec => s }
      if (wins.isEmpty && sorts.isEmpty) println("PASS jet_admission_no_sort_window")
      else { failures += 1; println(s"FAIL jet_admission_no_sort_window win=$wins sort=$sorts") }
    }

    // 9. LP-clustering move admission + per-cluster rollback (round-4 fix): the
    // coarsening superstep must carry NO per-target-cluster sort window either —
    // admission is the proportional coin (shared with JET, check 8) and the rollback
    // is a gross-inflow aggregate + join. A viral page's label can attract ~n movers;
    // any WindowExec/SortExec here would serialize them into one task.
    {
      import org.apache.spark.sql.execution.window.WindowExec
      import org.apache.spark.sql.execution.SortExec
      import spark.implicits._
      val staged = Seq(
        (1L, 10L, 1L, Option(20L), Option(1L), Option(0L), 0),
        (2L, 20L, 1L, Option(10L), Option(1L), Option(5L), 0),
        (3L, 10L, 1L, Option.empty[Long], Option.empty[Long], Option.empty[Long], 0))
        .toDF("node", "label", "weight", "cand", "D", "allow", "it")
      val plan = graft.partition.DistCoarsener.commitWithRollback(staged)
        .queryExecution.executedPlan
      val wins = plan.collectWithSubqueries { case w: WindowExec => w }
      val sorts = plan.collectWithSubqueries { case s: SortExec => s }
      if (wins.isEmpty && sorts.isEmpty) println("PASS cluster_commit_no_sort_window")
      else { failures += 1; println(s"FAIL cluster_commit_no_sort_window win=$wins sort=$sorts") }
    }

    // 10. balancer candidate selection (round-5 fix): the overload/underload
    // balancers' eviction/pull sets are picked by the sort-free histogram selection
    // — the per-(block, bucket) histogram and the boundary-coin filter must carry NO
    // WindowExec/SortExec (previously a per-block running-sum sort window: an
    // overloaded block's ~n/k members sorted in ONE task at scale). The per-block
    // score extents are folded by the job that stages the candidates: no plan.
    {
      import org.apache.spark.sql.execution.window.WindowExec
      import org.apache.spark.sql.execution.SortExec
      import spark.implicits._
      val cand = Seq(
        (1L, 0, 1L, 2.0, 11L), (2L, 0, 1L, 1.0, 12L), (3L, 1, 1L, 0.5, 13L))
        .toDF("src", "cur", "nw", "relGain", "h")
      val extents = Seq((0, 0.0, 0.01), (1, 0.0, 0.01))
      val sel = Seq((0, 0.0, 0.01, 5, 0.5), (1, 0.0, 0.01, -1, 1.0))
      val plans = Seq(
        "histogram" -> graft.partition.DistRefiner
          .scoreHistogram(cand, "cur", "relGain", extents, 256),
        "select" -> graft.partition.DistRefiner
          .histSelect(cand, "cur", "relGain", sel, 256, 7L, Seq("src", "cur", "nw")))
      val bad = plans.flatMap { case (n, df) =>
        val p = df.queryExecution.executedPlan
        val wins = p.collectWithSubqueries { case w: WindowExec => w }
        val sorts = p.collectWithSubqueries { case s: SortExec => s }
        if (wins.isEmpty && sorts.isEmpty) Nil else Seq((n, wins, sorts))
      }
      if (bad.isEmpty) println("PASS balancer_select_no_sort_window")
      else { failures += 1; println(s"FAIL balancer_select_no_sort_window $bad") }
    }

    println(if (failures == 0) "ALL PLAN CHECKS PASS" else s"$failures CHECKS FAILED")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
