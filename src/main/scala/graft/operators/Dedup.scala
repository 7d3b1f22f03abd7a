package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.SplitMix64

/**
 * Document deduplication family for large-scale training-data pipelines:
 *
 *  - [[exact]]: hash-groupBy exact dedup (keep lowest id per text);
 *  - [[minhashPairs]]: MinHash + LSH banding — shingle → 64 minhashes → bands →
 *    bucket equi-join → exact n-gram Jaccard verification. The only shuffle is
 *    the band-bucket groupBy; candidate verification is per-pair.
 *  - [[simhashPairs]]: 64-bit SimHash, banded by 16-bit chunks for Hamming-
 *    distance candidate generation.
 *  - [[ngramJaccard]]: exact n-gram Jaccard on candidate pairs (verifier).
 *
 * All hashes are deterministic (SplitMix64 finalizer) — identical across
 * partitions, sessions, and cluster sizes.
 */
object Dedup {

  /** Default per-bucket membership cap for every LSH band join (below). */
  val DefaultMaxBucket = 10000

  private val capSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /**
   * Materialize a tiny id-only LSH projection ONCE before it fans out to
   * multiple consumers (capBuckets' count agg + probe join, then both sides
   * of the candidate self-join). Without this the expensive signature chain
   * (per-shingle hashing over the whole corpus) is only computed once if
   * Catalyst happens to reuse the exchange — a plan-shape-dependent guarantee
   * that silently turns into a 3-4x recompute if either consumer's projection
   * drifts. The checkpointed frame is (id, bucket)-shaped (~16 bytes/row),
   * so eager local materialization is cheap at any corpus scale.
   */
  private[operators] def materializeOnce(df: DataFrame): DataFrame =
    df.localCheckpoint(true)

  /**
   * Degenerate-bucket guard for LSH band joins: any bucket with more than
   * `maxBucket` members is dropped before the bucket equi-join. Without the
   * cap, one pathological bucket (every empty caption hashing to one band
   * value, every zero vector signing to one signature) makes the
   * within-bucket join quadratic — at 10^12 rows a single hot bucket is a
   * job-killer. Dropping over-full buckets is the standard web-scale dedup
   * practice: members of a megabucket are still reachable through their
   * other (non-degenerate) bands/probes.
   *
   * The dropped-row count is published as an `observe` metric
   * (`lsh_bucket_cap_N` / `dropped_rows`) so callers get a signal, not a
   * silent truncation. The bucket-count join keys on the same column as the
   * downstream self-join, so the added exchange is reused, and only
   * (bucket, count) pairs move.
   */
  def capBuckets(banded: DataFrame, bucketCol: String,
                 maxBucket: Int = DefaultMaxBucket): DataFrame = {
    if (maxBucket <= 0) banded
    else {
      // groupBy + join (NOT a window over the bucket key): the aggregated
      // (bucket, count) side collapses to #distinct buckets and broadcasts
      // (confirmed in the r6 plan capture — BroadcastExchange over the
      // counts), so `banded` itself is never shuffled here; a window form
      // would force a full exchange + sort of every (id, bucket) row.
      val counts = banded.groupBy(bucketCol).agg(count(lit(1)).as("_bn"))
      banded.join(counts, Seq(bucketCol))
        .observe(s"lsh_bucket_cap_${capSeq.incrementAndGet()}",
          sum(when(col("_bn") > maxBucket, lit(1L)).otherwise(lit(0L)))
            .as("dropped_rows"))
        .filter(col("_bn") <= maxBucket)
        .drop("_bn")
    }
  }

  // ------------------------------------------------------------------ exact

  /** Keep one row per distinct `textCol` value (lowest id wins).
    *
    * Shuffle shape (the 100-TB story): the corpus text never enters an
    * exchange. Equality is decided on a 128-bit key —
    * `(xxhash64(text), xxhash64(text, salt), length(text))` — so the only
    * shuffled rows are ~32-byte (id, h1, h2, len) projections with map-side
    * partial aggregation for the min-id winners. The removal list (loser
    * ids — one per *duplicate* row, 8 bytes each, orders of magnitude
    * smaller than the corpus) is broadcast into a left-anti join, so the
    * surviving rows are filtered in place without moving. At a duplicate
    * cardinality too large to broadcast, pass `broadcastLosers = false` to
    * fall back to a shuffled anti-join keyed by the id — the corpus then
    * moves once, keyed and sorted by an 8-byte id, still never by the text.
    *
    * 128 bits + length makes a false merge (two different texts dropped as
    * duplicates) a ~2^-128 event — negligible at 10^12 documents.
    */
  def exact(df: DataFrame, idCol: String, textCol: String,
            broadcastLosers: Boolean = true): DataFrame = {
    // length(NULL) is NULL and the 3-key join is not null-safe — coalesce to
    // a sentinel so NULL-text rows form one dedup group (the window form's
    // partitionBy semantics)
    val proj = df.select(
      col(idCol).as("_eid"),
      xxhash64(col(textCol)).as("_h1"),
      xxhash64(col(textCol), lit(0x9e3779b97f4aL)).as("_h2"),
      coalesce(length(col(textCol)), lit(-1)).as("_len"))
    val winners = proj.groupBy("_h1", "_h2", "_len").agg(min("_eid").as("_keep"))
    val losers = proj.join(winners, Seq("_h1", "_h2", "_len"))
      .filter(col("_eid") =!= col("_keep"))
      .select("_eid")
    val removal = if (broadcastLosers) broadcast(losers) else losers
    df.join(removal, col(idCol) === removal("_eid"), "left_anti")
  }

  // ---------------------------------------------------------------- minhash

  /** Word shingles of size n, hashed to longs. */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    val words = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (words.length < n) {
      if (words.isEmpty) Array.emptyLongArray
      else Array(SplitMix64.hash(words.mkString(" ").hashCode.toLong))
    } else {
      val out = new Array[Long](words.length - n + 1)
      var i = 0
      while (i + n <= words.length) {
        var h = 1125899906842597L
        var j = i
        while (j < i + n) {
          h = h * 31 + words(j).hashCode
          j += 1
        }
        out(i) = SplitMix64.hash(h)
        i += 1
      }
      out
    }
  }

  /** numHashes minhash signature using XOR-permutations of one base hash. */
  def minhashSignature(text: String, n: Int, numHashes: Int): Array[Long] = {
    val shingles = shingleHashes(text, n)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var s = 0
    while (s < shingles.length) {
      var k = 0
      while (k < numHashes) {
        val h = SplitMix64.hash(shingles(s) ^ (k * 0x9e3779b97f4a7c15L))
        if (h < sig(k)) sig(k) = h
        k += 1
      }
      s += 1
    }
    sig
  }

  /**
   * LSH candidate pairs: signature split into `bands` bands of
   * numHashes/bands rows; docs sharing any band bucket become a candidate
   * pair, then verified with exact shingle Jaccard >= `threshold`.
   * Output: (a_id, b_id, jaccard) with a_id < b_id.
   */
  def minhashPairs(spark: SparkSession, df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.5,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val docs = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    // the banded self-join shuffles (id, bucket) ONLY — carrying the document
    // text through the bands-way-exploded shuffle would move ~2*bands x the
    // corpus; texts are hash-joined back per candidate pair instead.
    // Signature + banding is ONE codegen expression (r6: was two chained
    // ScalaUDFs that materialized the 64-long signature array per row).
    val banded = capBuckets(materializeOnce(docs
      .withColumn("_bucket", explode(
        graft.functions.HashExprs.minhashBands(col("text"), shingleN, numHashes, bands)))
      .select(col("id"), col("_bucket"))), "_bucket", maxBucket)

    val cand = banded.as("a").join(banded.as("b"),
        col("a._bucket") === col("b._bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .dropDuplicates("a_id", "b_id")

    cand
      .join(docs.select(col("id").as("a_id"), col("text").as("a_text")), Seq("a_id"))
      .join(docs.select(col("id").as("b_id"), col("text").as("b_text")), Seq("b_id"))
      .withColumn("jaccard",
        graft.functions.HashExprs.jaccard(col("a_text"), col("b_text"), shingleN))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Exact n-gram (word shingle) Jaccard similarity. */
  def jaccard(a: String, b: String, n: Int): Double = {
    val sa = shingleHashes(a, n).toSet
    val sb = shingleHashes(b, n).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      val inter = sa.intersect(sb).size
      inter.toDouble / (sa.size + sb.size - inter)
    }
  }

  // ---------------------------------------------------------------- simhash

  /** 64-bit SimHash over word shingles. */
  def simhash(text: String, n: Int): Long = {
    val shingles = shingleHashes(text, n)
    val acc = new Array[Int](64)
    var i = 0
    while (i < shingles.length) {
      val h = shingles(i)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (acc(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /**
   * SimHash near-dup pairs with Hamming distance <= maxHamming, using 16-bit
   * band buckets (any pair within Hamming 3 shares at least one of 4 bands).
   */
  def simhashPairs(spark: SparkSession, df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, maxHamming: Int = 3,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // simhash is a codegen expression; the 4 16-bit band buckets are pure
    // column bit arithmetic; hamming = builtin bit_count(xor) (r6: all
    // three were boxed ScalaUDFs)
    val sh = graft.functions.HashExprs.simhash(col(textCol), shingleN)
    val bandCols = (0 until 4).map(b =>
      shiftleft(lit(b.toLong), 16).bitwiseOR(
        shiftrightunsigned(col("sh"), 16 * b).bitwiseAND(lit(0xffffL))))
    val banded = capBuckets(materializeOnce(df
      .select(col(idCol).cast("long").as("id"), sh.as("sh"))
      .withColumn("_bucket", explode(array(bandCols: _*)))), "_bucket", maxBucket)
    banded.as("a").join(banded.as("b"),
        col("a._bucket") === col("b._bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.sh").as("a_sh"), col("b.sh").as("b_sh"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh"))))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /**
   * Embedding cosine near-duplicates: pairs with cosine >= threshold, via LSH
   * hyperplane buckets (see [[Ann.signature]]) with Hamming-1 multi-probe
   * (a near-duplicate pair differing in one sign bit still collides) + exact
   * cosine verification. The probe self-join shuffles (id, bucket) only;
   * vectors are hash-joined back per surviving candidate pair.
   */
  def embeddingPairs(spark: SparkSession, df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, planes: Int = 12,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // signature / probe / cosine kernels are codegen expressions reading
    // the float ArrayData in place (r6: the ScalaUDF forms boxed a
    // Seq[Float] + defensive copy per argument per row)
    import graft.functions.HashExprs
    val vecs = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // (id, sig) materialized once: consumed by the probe explode AND the base
    // side, each behind its own capBuckets double-read
    val sigs = materializeOnce(
      vecs.withColumn("_sig", HashExprs.planeSig(col("v"), planes)).select("id", "_sig"))
    // both sides capped: pairs per bucket are then bounded by maxBucket²
    val probes = capBuckets(
      sigs.withColumn("_bucket", explode(HashExprs.sigProbes(col("_sig"), planes)))
        .select(col("id"), col("_bucket")), "_bucket", maxBucket)
    val base = capBuckets(
      sigs.select(col("id").as("bid"), col("_sig").as("_bucket")), "_bucket", maxBucket)
    val cand = probes.join(base, Seq("_bucket"))
      .filter(col("id") < col("bid"))
      .select(col("id").as("a_id"), col("bid").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    cand
      .join(vecs.select(col("id").as("a_id"), col("v").as("av")), Seq("a_id"))
      .join(vecs.select(col("id").as("b_id"), col("v").as("bv")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        HashExprs.cosine(col("av"), col("bv")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
