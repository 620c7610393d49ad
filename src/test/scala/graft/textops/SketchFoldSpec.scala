package graft.textops

import graft.SparkFunSuite
import graft.sim.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.Random

/** SimHash and the LSH signature fold every bit in one pass per row. These specs
  * pin them to the unrolled forms — one `aggregate` per bit or plane — that they
  * replace, including null and empty text or vectors.
  */
class SketchFoldSpec extends SparkFunSuite {

  /** Reference SimHash: one aggregate over the token hashes per bit. */
  private def simhashUnrolled(docs: DataFrame, seed: Long): DataFrame = {
    val hashes = transform(TextOps.tokens(lower(col("text"))), t => xxhash64(t, lit(seed)))
    val bits = (0 until 64).map { b =>
      val counter = aggregate(hashes, lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(counter > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, c) => a.bitwiseOR(c))
    docs.select(col("doc_id"), bits.as("simhash"))
  }

  /** Reference LSH key: one aggregate(zip_with) projection per plane. */
  private def lshKeyUnrolled(vec: Column, table: Int, planes: Int, seed: Long): Column = {
    val vd = transform(vec, x => x.cast("double"))
    def planeSign(p: Int, dim: Column): Column =
      when(pmod(xxhash64(lit(table), lit(p), dim, lit(seed)), lit(2)) === 0, lit(1.0))
        .otherwise(lit(-1.0))
    (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vd, sequence(lit(0), size(vd) - 1), (x, i) => x * planeSign(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  test("simhash equals the per-bit unrolled form, null and empty text included") {
    val s = spark
    import s.implicits._
    val rnd = new Random(7)
    val words = Seq("the", "Graph", "cut", "block", "node", "edge", "FM", "pass", "x", "spark")
    val texts: Seq[String] =
      Seq(null, "", "   ", "one", "One ONE one", "\ttabbed\nlines  here ") ++
        Seq.fill(60)(Seq.fill(rnd.nextInt(40))(words(rnd.nextInt(words.size))).mkString(" "))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (seed <- Seq(42L, 3L)) {
      val got = Dedup.simhash(docs, seed).as[(Long, Long)].collect().toMap
      val want = simhashUnrolled(docs, seed).as[(Long, Long)].collect().toMap
      assert(got === want, s"seed $seed")
      assert(got(0L) === 0L, "a null text hashes to 0")
    }
  }

  test("lshKey equals the per-plane unrolled form, null and empty vectors included") {
    val s = spark
    import s.implicits._
    val rnd = new Random(13)
    // large terms that cancel make a projection's sign depend on the summation order
    val cancelling = for (a <- Seq(1e16f, -1e16f); b <- Seq(1e16f, -1e16f))
      yield Some(Seq(Some(a), Some(b), Some(1f)))
    val vecs: Seq[Option[Seq[Option[Float]]]] =
      Seq(None, Some(Seq.empty), Some(Seq(Some(0f))), Some(Seq(Some(1f), None, Some(-2f)))) ++
        cancelling ++ Seq.fill(60)(Some(Seq.fill(1 + rnd.nextInt(24))(Some(rnd.nextFloat() * 2 - 1))))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    for ((table, planes) <- Seq((0, 6), (5, 6), (1, 10), (2, 1), (3, 20))) {
      val got = df.select(col("id"), Similarity.lshKey(col("vec"), table, planes, 42L))
        .as[(Long, Long)].collect().toMap
      val want = df.select(col("id"), lshKeyUnrolled(col("vec"), table, planes, 42L))
        .as[(Long, Long)].collect().toMap
      assert(got === want, s"table $table planes $planes")
      assert(got(0L) === 0L && got(1L) === 0L, "null and empty vectors key to 0")
    }
  }
}
