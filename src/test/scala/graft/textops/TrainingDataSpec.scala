package graft.textops

import graft.SparkFunSuite
import graft.sim.Similarity
import graft.multimodal.MediaPipeline
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkFunSuite {
  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.map { case (id, t) => (id, t, "xx", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("token stats on known strings") {
    val d = docsDf(Seq((1L, "a bb  ccc"), (2L, "  hello  ")))
    val r = TextOps.tokenStats(d).collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L) === ((3L, 9L)))
    assert(r(2L) === ((1L, 9L))) // chars include padding; one token after trim
  }

  test("fingerprint is invariant to case and whitespace layout") {
    val d = docsDf(Seq((1L, "Hello   World\tfoo"), (2L, "hello world foo"), (3L, "different text")))
    val fps = TextOps.fingerprints(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
  }

  test("langId identifies fixture sentences per language") {
    val d = docsDf(Seq(
      (1L, "the quick fox is happy and runs to the forest with joy"),
      (2L, "der hund und die katze sind nicht mit dem ball"),
      (3L, "le chat est sur la table et les livres sont des cadeaux"),
      (4L, "el perro es una mascota que vive con los gatos por ahora"),
      (5L, "中文文本处理很有趣")
    ))
    val pred = TextOps.langId(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred === Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "zh"))
  }

  test("bpe token estimate grows with word length") {
    val d = docsDf(Seq((1L, "aa bb cc"), (2L, "aaaaaaaa bbbbbbbb")))
    val r = TextOps.bpeTokenEstimate(d).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) === 3L) // three 2-char words -> 1 unit each
    assert(r(2L) === 4L) // two 8-char words -> 2 units each
  }
}

class DedupSpec extends SparkFunSuite {
  private val base =
    "spark engines shuffle data across partitions while catalyst optimizes the logical plan " +
      "into physical stages with whole stage codegen and adaptive execution at runtime"

  private def corpus = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, base, "en", "s0", 1L),
      (1L, base, "en", "s0", 1L), // exact duplicate of 0
      (2L, base.replace("optimizes", "optimises"), "en", "s0", 1L), // near dup of 0
      (3L, base.replace("spark", "flink").replace("catalyst", "calcite"), "en", "s0", 1L), // near dup
      (4L, "completely unrelated tiny document about cooking pasta with tomato sauce and basil leaves in a large pot", "en", "s0", 1L),
      (5L, "another unrelated text mentioning mountains rivers hiking trails and weather forecasts for the weekend trip", "en", "s0", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("exact dedup groups identical canonical texts") {
    val r = Dedup.exact(corpus).collect().map(x => (x.getLong(1), x.getLong(2)))
    assert(r.exists { case (keeper, copies) => keeper == 0L && copies == 2L })
    assert(r.count(_._2 == 1L) === 4)
  }

  test("minhash-LSH + verify finds the planted near-dups and skips unrelated docs") {
    val pairs = Dedup.verifyJaccard(corpus, Dedup.lshCandidates(corpus))
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L || a == 5L || b == 5L })
  }

  test("simhash: identical docs hash equal; near-dups within hamming 3; unrelated far") {
    val sh = Dedup.simhash(corpus).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) === sh(1L))
    val pairs = Dedup.simhashPairs(corpus, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L))
  }

  test("deterministic across partition counts") {
    val a = Dedup.minhashSignatures(corpus).collect().map(_.toSeq).toSet
    val b = Dedup.minhashSignatures(corpus.repartition(5)).collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("lsh candidate plan carries no window (bucket sizing is an aggregate)") {
    // round-5 fix: count-over-window materialized every member of a degenerate
    // boilerplate bucket in ONE window partition; sizing must be groupBy + semi-join
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = Dedup.lshCandidates(corpus).queryExecution.executedPlan
    val wins = plan.collectWithSubqueries { case w: WindowExec => w }
    assert(wins.isEmpty, s"lshCandidates must not use a window: $wins")
  }
}

class SimilaritySpec extends SparkFunSuite {
  test("brute-force knn ranks an exact duplicate vector first") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.001f, 0.0f)), // nearly identical to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("id", "vec")
    val r = Similarity.bruteForceKnn(vecs.filter(col("id") === 0), vecs, 3)
      .orderBy("rank").collect().map(x => (x.getInt(1), x.getLong(2), x.getDouble(3)))
    assert(r.head._2 === 1L && r.head._3 > 0.999)
    assert(r.last._2 === 3L && r.last._3 === -1.0)
  }

  test("ANN-LSH achieves reasonable recall vs brute force on real embeddings") {
    val v = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = v.filter(col("id") < 10)
    val brute = Similarity.bruteForceKnn(q, v, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // these embeddings are weakly clustered (top-5 cosine ~0.32), so the LSH dial
    // goes to short keys + many tables: P(agree/plane) ~ 0.6 -> 6 planes, 16 tables
    val ann = Similarity.annLsh(q, v, 5, planes = 6, tables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.4, s"ANN recall@5 too low: $recall")
  }
}

class BpeSpec extends SparkFunSuite {
  test("merge loop: hand-computed fixtures") {
    // merges [(a,b),(ab,c)]: "abcabd" -> [a,b,c,a,b,d] -> [ab,c,ab,d] -> [abc,ab,d]
    val m = Seq(("a", "b"), ("ab", "c"))
    assert(Bpe.encodeWord("abcabd", m) === Seq("abc", "ab", "d"))
    // priority: (a,b) outranks (b,c) even when both apply
    val m2 = Seq(("a", "b"), ("b", "c"))
    assert(Bpe.encodeWord("abc", m2) === Seq("ab", "c"))
    assert(Bpe.encodeWord("bcd", m2) === Seq("bc", "d"))
    // no applicable merges: pure character split; empty word: empty
    assert(Bpe.encodeWord("xyz", m) === Seq("x", "y", "z"))
    assert(Bpe.encodeWord("", m) === Seq.empty)
    // default table: "the" collapses to one token (t+h -> th, th+e -> the)
    assert(Bpe.encodeWord("the", Bpe.DefaultMerges) === Seq("the"))
    assert(Bpe.encodeWord("that", Bpe.DefaultMerges) === Seq("that"))
  }

  test("bpeTokens over a documents table: exact counts, deterministic") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat"), // the=1, cat: c,at -> 2 (a+t merges) => 3
      (2L, "that that"), // 1 + 1 = 2
      (3L, "")
    ).toDF("doc_id", "text")
    val out = Bpe.bpeTokens(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 1L + Bpe.encodeWord("cat", Bpe.DefaultMerges).length)
    assert(out(2L) === 2L)
    assert(out(3L) === 0L)
    val again = Bpe.bpeTokens(docs.repartition(3)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === out)
  }
}

class MediaPipelineSpec extends SparkFunSuite {
  test("synthetic media + decode: real image decode, deterministic typed pipeline") {
    val media = MediaPipeline.syntheticMedia(spark, 60)
    val feats = MediaPipeline.extractFeatures(media)
    val rows = feats.collect()
    assert(rows.length === 60)
    // image rows are REAL PNGs decoded by ImageIO: 48-dim per-channel histogram and
    // decoded dimensions matching the generated metadata
    val metaDims = media.collect().map(m => m.media_id -> (m.width, m.height)).toMap
    val images = rows.filter(_.kind == "image")
    assert(images.nonEmpty)
    images.foreach { f =>
      assert(f.features.length === 48, s"image ${f.media_id} not decoded")
      assert((f.decoded_width, f.decoded_height) === metaDims(f.media_id),
        s"decoded dims mismatch for ${f.media_id}")
      // each channel's histogram sums to 1
      Seq(0, 16, 32).foreach { off =>
        assert(math.abs(f.features.slice(off, off + 16).sum - 1.0) < 1e-9)
      }
    }
    // audio/video keep the 16-bin stub histogram
    val rest = rows.filter(_.kind != "image")
    assert(rest.forall(_.features.length == 16))
    assert(rest.forall(f => math.abs(f.features.sum - 1.0) < 1e-9))
    assert(rows.filter(_.kind == "video").forall(_.frames_sampled >= 1))
    // determinism
    val again = MediaPipeline.extractFeatures(MediaPipeline.syntheticMedia(spark, 60))
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    assert(rows.map(f => f.media_id -> f.features.toSeq).toMap === again)
    val stats = MediaPipeline.featureStats(feats).collect()
    assert(stats.length === 3) // image/audio/video
  }
}
