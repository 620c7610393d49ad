package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Stage

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH, SimHash,
  * and exact n-gram Jaccard verification.
  *
  * Scale design: every stage is shuffle-bounded by design —
  *  - exact dedup: one hash aggregation on the canonical fingerprint;
  *  - MinHash-LSH: shingle explode (map-side), signature = groupBy(doc) min-agg,
  *    band bucketing = one shuffle on (band, bandHash), candidate pairs only within
  *    buckets (never the n^2 cross join), exact-Jaccard verification only on
  *    candidates.
  * Giant buckets (boilerplate shingles) are capped — the same hub-splitting discipline
  * as the link graph.
  */
object Dedup {

  /** Exact dedup on the canonical fingerprint: one row per distinct content,
    * keeper = min doc_id, plus the duplicate count.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).cast("long").as("copies"))

  /** The distinct word-w-shingle hash set of `text` as an array column (always
    * non-null with >= 1 element — `sequence(0, greatest(.., 0))` never empties).
    */
  private[textops] def shingleSet(text: Column, w: Int, seed: Long): Column = {
    val toks = TextOps.tokens(lower(text))
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - w, lit(0))),
      i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(w))), lit(seed))
    )
    array_distinct(grams)
  }

  /** Word w-shingles as distinct hashed Longs (seeded xxhash64). */
  def shingles(docs: DataFrame, w: Int = 3, seed: Long = 42L): DataFrame =
    docs.select(col("doc_id"), explode(shingleSet(col("text"), w, seed)).as("shingle"))

  /** MinHash signatures: numHashes permutations approximated by seeded re-hashing of
    * the shingle hash; signature element h = min over shingles of xxhash64(shingle, h).
    * One explode + one groupBy(doc) aggregation. (An array_min-over-shingle-array
    * projection was tried in r06 and measured 45x WORSE: higher-order functions run
    * outside whole-stage codegen with no subexpression elimination, so every one of
    * the 32 signature references — and each downstream band key — re-evaluated the
    * whole tokenize+shingle tree. The aggregation barrier materializes signature
    * VALUES once; its shuffle carries 32 longs per doc, which is the cheap part.)
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 32, w: Int = 3, seed: Long = 42L): DataFrame = {
    val sh = shingles(docs, w, seed)
    val mins = (0 until numHashes).map(h =>
      min(xxhash64(col("shingle"), lit(seed + h))).as(s"mh$h")
    )
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs: signatures split into `bands` bands of r rows; docs sharing
    * any band bucket become a candidate pair. Bucket size capped at `maxBucket` (drop
    * degenerate boilerplate buckets — scale guard). Returns (a, b) with a < b.
    */
  def lshCandidates(
      docs: DataFrame,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucket: Int = 64,
      w: Int = 3,
      seed: Long = 42L
  ): DataFrame = {
    require(numHashes % bands == 0)
    val r = numHashes / bands
    val sig = minhashSignatures(docs, numHashes, w, seed)
    val bandKeys = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64((b * r until (b + 1) * r).map(i => col(s"mh$i")): _*).as("bucket")
      )
    }
    val buckets = sig
      .select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    // bucket sizing as an AGGREGATE, not a window: a degenerate boilerplate bucket
    // (~10^8 docs sharing a band hash on a real crawl) dies at the map-side partial
    // agg instead of materializing every member row in one window partition; the
    // semi-join keeps only members of small buckets
    val smallBuckets = buckets
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") <= maxBucket)
      .select(col("band"), col("bucket"))
    val small = buckets.join(smallBuckets, Seq("band", "bucket"), "left_semi")
    small.as("x")
      .join(small.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Exact w-shingle Jaccard for given candidate pairs (a, b): one explode-join-agg.
    * Only documents that are MEMBERS of a candidate pair are shingled (r06, guide
    * §3.2 semi-join pre-filter): at crawl scale the candidate set is a tiny fraction
    * of the corpus, so tokenizing/shingling every document to verify a few pairs
    * shuffled and hashed orders of magnitude more than needed. Result-identical —
    * sizes and intersections are only ever consumed for pair members.
    */
  def verifyJaccard(
      docs: DataFrame, pairs0: DataFrame, w: Int = 3, seed: Long = 42L): DataFrame = Stage.scope { st =>
    // the pair table is referenced four times below (member extraction x2, the two
    // set-attach joins) and is typically the OUTPUT of the full LSH candidate
    // pipeline — stage it once in memory so that pipeline executes once, not four
    // times (r06, guide §5); likewise the shingle sets feed both attach joins. The
    // result is written durably, so both are released when the call returns. No
    // distinct() on members: the left_semi join below dedups
    // for free (one exchange + agg removed, guide §2.4).
    val (pairs, _) = st.memory(pairs0)
    val members = pairs.select(col("a").as("doc_id"))
      .unionAll(pairs.select(col("b").as("doc_id")))
    // The shingle set is a per-document ARRAY at parse time — the explode/groupBy
    // round-trip of the shingle stream (sizes aggregation + pair-keyed intersection
    // aggregation + two size-attach joins) is unnecessary for verification: attach
    // each member's set to its pairs and take |A ∩ B| / |A ∪ B| directly
    // (r06, guide §2.3/§2.4 — two joins instead of one agg + two joins + one agg +
    // three joins; byte volume per pair is the same, the set travels once per pair
    // membership in both shapes). Result-identical: sizes and intersections are the
    // same integers (sets are array_distinct'd, never null, never empty).
    val (sets, _) = st.memory(docs.join(members, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleSet(col("text"), w, seed).as("sh")))
    st.durable(pairs
      .join(sets.select(col("doc_id").as("a"), col("sh").as("shA")), "a")
      .join(sets.select(col("doc_id").as("b"), col("sh").as("shB")), "b")
      .withColumn("inter", size(array_intersect(col("shA"), col("shB"))).cast("long"))
      .select(
        col("a"), col("b"),
        round(
          col("inter").cast("double") /
            (size(col("shA")).cast("long") + size(col("shB")).cast("long") - col("inter"))
              .cast("double"),
          8
        ).as("jaccard")
      ),
      "jaccard")
  }

  /** 64-bit SimHash per document over word-level token hashes: bit b of the hash is
    * the sign of sum over tokens of (+1 if bit set else -1). Pure higher-order
    * column expressions: one fold of the per-doc token-hash list into a 64-slot
    * counter array, then collapsed to a bitmask (0 for a null text).
    */
  def simhash(docs: DataFrame, seed: Long = 42L): DataFrame = {
    val toks = TextOps.tokens(lower(col("text")))
    val hashes = transform(toks, t => xxhash64(t, lit(seed)))
    val counters = aggregate(hashes, array_repeat(lit(0), 64),
      (acc, h) => transform(acc, (c, b) => c + when(getbit(h, b) === 1, 1).otherwise(-1)))
    // bit b = counter b > 0, folded from bit 63 down
    val bits = aggregate(reverse(counters), lit(0L),
      (m, c) => shiftleft(m, 1).bitwiseOR(when(c > 0, 1L).otherwise(0L)))
    docs.select(col("doc_id"), coalesce(bits, lit(0L)).as("simhash"))
  }

  /** SimHash near-dup pairs: hamming distance <= maxDist, blocked by 16-bit chunks
    * (a pair within distance d <= 3 must agree on at least one of 4 chunks —
    * pigeonhole), so no n^2 comparison.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3, seed: Long = 42L): DataFrame = {
    require(maxDist <= 3, "4-chunk blocking supports maxDist <= 3")
    val sh = simhash(docs, seed)
    val chunks = sh.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * 16).bitwiseAND(0xffffL).as("key"))): _*)).as("ck")
    ).select(col("doc_id"), col("simhash"), col("ck.chunk").as("chunk"), col("ck.key").as("key"))
    val cand = chunks.as("x")
      .join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb")
      )
      .distinct()
    cand
      .withColumn("dist", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist").cast("int").as("hamming"))
  }
}
