package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dumps `.explain("formatted")` for the bench/declared query plans into a
  * directory (args: outDir [sfDir]) — the r06 optimization evidence files
  * (`plans/r06/<query>_{before,after}.txt`). Pure diagnostics.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/plans")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    graft.util.Log.enabled = false
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    def dump(name: String, df: org.apache.spark.sql.DataFrame, header: String = ""): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$name.txt"),
        (header + txt).getBytes("UTF-8"))
      println(s"dumped $name")
    }

    import graft.graph.Graphs
    val edges = Graphs.bipartite(spark, sfDir)
    dump("q01_edges", edges)
    dump("q07_pagerank5", graft.ops.PageRank.run(spark, edges, iterations = 5))
    dump("q06_triangles", {
      // triangle plan without the mid-pipeline durable write: orient + 3-way join
      val o = graft.ops.Triangles.orient(Graphs.copurchase(spark, sfDir))
      val e1 = o.as("e1"); val e2 = o.as("e2"); val e3 = o.as("e3")
      e1.join(e2, col("e1.dst") === col("e2.src"))
        .join(e3, col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
        .agg(count(lit(1)).as("triangles"))
    })
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    dump("q17_minhash_dedup",
      graft.textops.Dedup.verifyJaccard(docs, graft.textops.Dedup.lshCandidates(docs))
        .filter(col("jaccard") >= 0.5))
    val v = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    dump("q20_knn_brute", graft.sim.Similarity.bruteForceKnn(v.filter(col("id") < 10), v, 5))
    // one refinement superstep's staging plan shape (the lpRefine hot path) is not
    // dumpable as a single DataFrame (driver loop); the per-level entry join is:
    val nodeW = edges.select(col("src").as("node")).distinct().withColumn("weight", lit(1L))
    dump("refine_entry", edges.join(nodeW, col("src") === col("node")))

    // ---- superstep shape dumps ----
    // At test scale every n-row table fits the broadcast threshold and the planner
    // broadcasts it, which HIDES the shuffle shape these dumps are evidence for.
    // At 100 TB the label/state tables are not broadcastable, so the honest
    // at-scale shape is the non-broadcast plan: disable auto-broadcast for these
    // dumps only (explicit broadcast() hints, e.g. knn's query side, are
    // unaffected — those are dumped above under the default conf).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shapeHeader =
      "-- dumped with spark.sql.autoBroadcastJoinThreshold=-1: the at-scale shape\n" +
      "-- (n-row label/state tables do not fit a broadcast at 100 TB)\n"

    // the superstep GATHER shape (shared by LP refine/JET/balancers): edge stream
    // joined to dst labels, MAP-SIDE partially aggregated per (src, nb) — nb is a
    // block id < k, so the combine is dense — into the (src, nb) exchange, then
    // the n-row state joins the aggregate. This is the shape r06 kept after A/B:
    // an explicit repartition(src) before the aggregation (one exchange instead
    // of two) was tried and REVERTED — it ships the raw m-row stream with no
    // map-side combine and lands a hub's whole neighborhood in one partition.
    val labels = nodeW.select(col("node"), (col("node") % 16).as("nb"))
    val state = nodeW.select(
      col("node").as("src"), (col("node") % 16).as("cur"), col("weight").as("nw"))
    dump("refine_gather",
      edges.join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src"), col("nb")).agg(sum(col("w")).as("rating"))
        .join(state, "src"), shapeHeader)

    // one CC large-star/small-star round over the initial canonical pair set.
    // _before replicates the round-5 round (unpartitioned stream: every
    // aggregation/dedup exchanges independently); _after uses the shipped
    // ConnectedComponents round shape (one u-partitioning per phase).
    val pairs0 = edges
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"), least(col("src"), col("dst")).as("v"))
      .distinct()
    def ccRound(pairs: org.apache.spark.sql.DataFrame, partitioned: Boolean) = {
      def maybeRep(df: org.apache.spark.sql.DataFrame) =
        if (partitioned) df.repartition(col("u")) else df
      val sym = maybeRep(pairs
        .select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v")))
      val mins = sym.groupBy(col("u")).agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = maybeRep(sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))).distinct()
      val minsS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large.join(minsS, "u")
        .select(col("v").as("a"), col("m"), col("u").as("uu"))
      maybeRep(small
        .select(explode(array(col("a"), col("uu"))).as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))).distinct()
    }
    dump("cc_round_before", ccRound(pairs0, partitioned = false), shapeHeader)
    dump("cc_round_after", ccRound(pairs0, partitioned = true), shapeHeader)
    spark.stop()
  }
}
