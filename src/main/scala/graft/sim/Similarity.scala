package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`Array[Float]`): brute-force cosine
  * top-k as the exact baseline, and a random-hyperplane-LSH bucketed variant as the
  * scale path (candidates only within matching signature buckets; multiple independent
  * hash tables recover recall).
  *
  * All arithmetic is done with higher-order column expressions in DOUBLE (codegen'd,
  * deterministic accumulation order: element 0..d-1), no UDFs.
  */
object Similarity {

  /** Sequential-order dot product of two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Cosine similarity of two float-array columns, computed in double. */
  def cosine(a: Column, b: Column): Column = {
    val ad = asDouble(a); val bd = asDouble(b)
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  /** Exact brute-force top-k cosine neighbors for every query vector.
    * `queries`/`corpus`: (id BIGINT, vec ARRAY<FLOAT>). Self-matches excluded when ids
    * collide. The corpus side is the big one — at scale the queries are broadcast, so
    * this is a map-side cross product + per-query top-k (one shuffle on query id).
    */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("id").as("qid"), col("vec").as("qvec")))
    val c = corpus.select(col("id").as("nid"), col("vec").as("nvec"))
    val scored = c.crossJoin(q)
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), round(cosine(col("qvec"), col("nvec")), 6).as("cos"))
    // two-stage EXACT top-k (round 5): a single per-qid window would sort the whole
    // corpus in one task per query at scale; stage 1 ranks inside (qid, hash bucket)
    // — groups of ~corpus/1024 — and stage 2 ranks the surviving 1024*k rows per
    // query. Per-bucket top-k is a superset of the global top-k, so the result is
    // identical to the one-window form.
    val wnd1 = Window.partitionBy(col("qid"), col("bkt")).orderBy(desc("cos"), asc("nid"))
    val wnd2 = Window.partitionBy(col("qid")).orderBy(desc("cos"), asc("nid"))
    scored
      .withColumn("bkt", pmod(xxhash64(col("nid")), lit(1024)))
      .withColumn("brank", row_number().over(wnd1))
      .filter(col("brank") <= k)
      .withColumn("rank", row_number().over(wnd2))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** Deterministic pseudo-random hyperplane component for (table, plane, dim):
    * a seeded hash mapped to {-1.0, +1.0} — sign-random projections without
    * materializing plane vectors.
    */
  private def planeSign(table: Int, plane: Column, dim: Column, seed: Long): Column =
    when(pmod(xxhash64(lit(table), plane, dim, lit(seed)), lit(2)) === 0, lit(1.0))
      .otherwise(lit(-1.0))

  /** LSH signature for one table: `planes`-bit key of projection signs. One fold over
    * the vector carries all `planes` projections, each summed in element order.
    */
  def lshKey(vec: Column, table: Int, planes: Int, seed: Long): Column = {
    val vd = asDouble(vec)
    val projs = aggregate(
      zip_with(vd, sequence(lit(0), size(vd) - 1), (x, i) => struct(x.as("x"), i.as("i"))),
      array_repeat(lit(0.0), planes),
      (acc, xi) => transform(acc, (a, p) => a + xi("x") * planeSign(table, p, xi("i"), seed)))
    // bit p = projection p > 0, folded from the last plane down; 0 for a null vector
    val bits = aggregate(reverse(projs), lit(0L),
      (m, x) => shiftleft(m, 1).bitwiseOR(when(x > 0, 1L).otherwise(0L)))
    coalesce(bits, lit(0L))
  }

  /** Approximate NN: candidates = pairs sharing a bucket in ANY of `tables` hash
    * tables, scored exactly, per-query top-k. Recall grows with `tables`, cost is
    * bounded by bucket sizes (no cross join).
    */
  def annLsh(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      planes: Int = 10,
      tables: Int = 6,
      seed: Long = 42L
  ): DataFrame = {
    def keyed(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      df.select(
        col("id").as(idAs), col("vec").as(vecAs),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"), lshKey(col("vec"), t, planes, seed).as("key"))): _*)).as("bk")
      ).select(col(idAs), col(vecAs), col("bk.t").as("t"), col("bk.key").as("key"))

    val qk = keyed(queries, "qid", "qvec")
    val ck = keyed(corpus, "nid", "nvec")
    // dedupe candidate PAIRS on bare ids first, re-join the vectors after: a pair
    // sharing buckets in several tables must not drag two d-dim arrays through the
    // distinct's shuffle + exchange once per table (round-3 hygiene fix)
    val candIds = qk.select(col("qid"), col("t"), col("key"))
      .join(ck.select(col("nid"), col("t"), col("key")), Seq("t", "key"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
      .distinct()
    val cand = candIds
      .join(queries.select(col("id").as("qid"), col("vec").as("qvec")), "qid")
      .join(corpus.select(col("id").as("nid"), col("vec").as("nvec")), "nid")
    val wnd = Window.partitionBy(col("qid")).orderBy(desc("cos"), asc("nid"))
    cand
      .select(col("qid"), col("nid"), round(cosine(col("qvec"), col("nvec")), 6).as("cos"))
      .withColumn("rank", row_number().over(wnd))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }
}
