package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{HashExprs, HashKernels}
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
 *  - [[embeddingPairs]]: hyperplane-LSH cosine near-duplicates.
 *  - [[ngramJaccard]]: exact n-gram Jaccard on candidate pairs (verifier).
 *
 * All hashes are deterministic (SplitMix64 finalizer) — identical across
 * partitions, sessions, and cluster sizes.
 *
 * Path selection (the three band joins, and [[Ann.lshTopK]]), as
 * [[Knn.knnJoin]] chooses its own: when the input fits one broadcast
 * (`spark.sql.autoBroadcastJoinThreshold`; -1 disables it)
 *  - driver: one job collects the rows with their per-row kernels (band
 *    hashes, signature) computed on the executors; the driver indexes the
 *    buckets, verifies the candidates with the same kernels
 *    ([[graft.functions.HashKernels]], [[jaccard]]) and returns the answer
 *    as a local relation. The gate is Spark's size estimate of the
 *    collected projection (no job), confirmed by the rows' exact bytes,
 *    counted as they are collected (the collect stops once they pass the
 *    threshold), and then by the candidate-pair bound (the sum over kept
 *    buckets of probe rows x base rows, 16 bytes each). The estimate
 *    undercounts strings and arrays, so the exact checks are what bound the
 *    driver path; when one fails, the shuffle path runs instead, and the
 *    per-row kernels run again there;
 *  - shuffle, otherwise: the band rows are materialized once, capped
 *    ([[capBuckets]]) and self-joined on the bucket id.
 *
 * Exactness law, the same on both paths:
 *  - the cap counts (row, bucket) entries, not distinct ids, rows with a
 *    null id included; a bucket with more than `maxBucket` entries is
 *    dropped (on each side separately where probe and base differ);
 *  - a null id is never paired, and a null text or vector has no bucket;
 *  - candidate pairs are the distinct id pairs (a_id < b_id) sharing a kept
 *    bucket. [[minhashPairs]] and [[embeddingPairs]] then verify every
 *    (a-row, b-row) combination of the two ids and emit one row per
 *    combination at or above the threshold (Spark's double order: NaN is
 *    greatest); [[simhashPairs]] verifies each distinct (a_sh, b_sh) of the
 *    row pairs that shared a bucket.
 */
object Dedup {

  /** Default per-bucket membership cap for every LSH band join (below). */
  val DefaultMaxBucket = 10000

  private val capSeq = new java.util.concurrent.atomic.AtomicInteger(0)

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
   * (bucket, count) pairs move. On this path the count is a lower bound:
   * the observation sees only the rows the downstream join reads (a
   * sort-merge join stops reading one side once the other is exhausted),
   * and it is not reported at all when adaptive execution replaces an
   * empty answer by an empty relation.
   *
   * The driver paths ([[driverCandidates]]) apply the same cap and report
   * every row it drops under the same observation, one per `capBuckets`
   * call the shuffle path makes.
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
        .observe(capName(),
          sum(when(col("_bn") > maxBucket, lit(1L)).otherwise(lit(0L)))
            .as("dropped_rows"))
        .filter(col("_bn") <= maxBucket)
        .drop("_bn")
    }
  }

  private def capName(): String = s"lsh_bucket_cap_${capSeq.incrementAndGet()}"

  /** Bytes of one candidate pair in the driver paths' size bound. */
  private final val PairBytes = 16

  /**
   * Candidate row pairs of a band join solved on the driver: distinct pairs
   * `(i, j)`, each packed as `i << 32 | j` in ascending order, of a probe
   * row `i` and a base row `j` that share a kept bucket.
   * `dropped` holds the rows each cap dropped, one value per [[capBuckets]]
   * call of the shuffle path (null when the side has no bucket at all, as
   * `sum` over no rows is).
   */
  private[operators] final case class Candidates(pairs: Array[Long],
                                                 dropped: Seq[java.lang.Long]) {
    def rowPairs: Iterator[(Int, Int)] = pairs.iterator.map(p => ((p >>> 32).toInt, p.toInt))

    /** The distinct id pairs of the row pairs, each as all rows of the first
     * id and all rows of the second: what the shuffle path's `dropDuplicates`
     * and its join-back of both sides produce. They come in ascending order
     * of the ids' first rows, so the pairs of one first id are adjacent. */
    def idPairs(ids: Array[java.lang.Long]): Iterator[(Array[Int], Array[Int])] = {
      val firstRow = mutable.HashMap.empty[Long, Int]
      val rep = Array.tabulate(ids.length)(i =>
        if (ids(i) == null) -1 else firstRow.getOrElseUpdate(ids(i).longValue, i))
      val rowsOf = new Array[Array[Int]](ids.length)
      for ((r, rs) <- rep.indices.filter(rep(_) >= 0).groupBy(rep(_))) rowsOf(r) = rs.toArray
      val byId =
        if (rep.indices.forall(i => rep(i) == i || rep(i) < 0)) pairs
        else distinctSorted(pairs.map(p => rep((p >>> 32).toInt).toLong << 32 | rep(p.toInt)))
      byId.iterator.map(p => (rowsOf((p >>> 32).toInt), rowsOf(p.toInt)))
    }

    /** `out`, reporting the capped rows under the shuffle path's observations. */
    def report(out: DataFrame): DataFrame =
      dropped.foldLeft(out)((df, d) => df.observe(capName(), lit(d).cast("long").as("dropped_rows")))
  }

  /** The rows of each bucket of one side of a band join: bucket `keys(b)`
   * holds `rows(offsets(b) until offsets(b + 1))`, one entry per (row,
   * bucket), as `count` over the banded rows counts them. Buckets are found
   * by open addressing on primitive arrays. */
  private final class BucketIndex(side: Array[Array[Long]]) {
    private val entries = side.iterator.filter(_ != null).map(_.length).sum
    private val bits = 33 - Integer.numberOfLeadingZeros(math.max(1, entries))
    private val mask = (1 << bits) - 1
    private val table = new Array[Long](mask + 1)
    private val slotAt = Array.fill(mask + 1)(-1)
    private def position(bucket: Long): Int = {
      var h = ((bucket * 0x9e3779b97f4a7c15L) >>> (64 - bits)).toInt
      while (slotAt(h) >= 0 && table(h) != bucket) h = (h + 1) & mask
      h
    }
    /** The bucket's slot, -1 when the side has none. */
    def slot(bucket: Long): Int = slotAt(position(bucket))

    private val entrySlot = new Array[Int](entries)
    val keys: Array[Long] = {
      val out = mutable.ArrayBuilder.make[Long]
      var (e, n) = (0, 0)
      for (bs <- side if bs != null; b <- bs) {
        val h = position(b)
        if (slotAt(h) < 0) { slotAt(h) = n; table(h) = b; out += b; n += 1 }
        entrySlot(e) = slotAt(h)
        e += 1
      }
      out.result()
    }
    val offsets = new Array[Int](keys.length + 1)
    val rows: Array[Int] = {
      for (at <- entrySlot) offsets(at + 1) += 1
      for (b <- keys.indices) offsets(b + 1) += offsets(b)
      val out = new Array[Int](entries)
      val next = offsets.clone()
      var e = 0
      for (i <- side.indices if side(i) != null; _ <- side(i)) {
        out(next(entrySlot(e))) = i
        next(entrySlot(e)) += 1
        e += 1
      }
      out
    }
    def size(b: Int): Int = offsets(b + 1) - offsets(b)
  }

  /**
   * The driver form of [[capBuckets]] + the bucket equi-join +
   * `dropDuplicates`. `probe(i)` / `base(i)` are row `i`'s buckets on each
   * side (null: none; the same array for a self-join, which is capped once);
   * `pair` is the pair rule (`id != nid`, `a < b`), false for null ids.
   * The cap counts bucket entries, as `count` over the banded rows does.
   * `None` when the candidate-pair bound — the sum over kept buckets of
   * probe entries x base entries — does not fit one broadcast at 16 bytes a
   * pair; it is known before any pair is enumerated.
   */
  private[operators] def driverCandidates(spark: SparkSession, probe: Array[Array[Long]],
                                          base: Array[Array[Long]], maxBucket: Int)
                                         (pair: (Int, Int) => Boolean): Option[Candidates] = {
    val sides = if (base eq probe) Seq(new BucketIndex(probe))
      else Seq(new BucketIndex(probe), new BucketIndex(base))
    def kept(side: BucketIndex, b: Int): Boolean = maxBucket <= 0 || side.size(b) <= maxBucket
    val dropped =
      if (maxBucket <= 0) Nil
      else sides.map(side => if (side.keys.isEmpty) null
        else java.lang.Long.valueOf(side.keys.indices.filterNot(kept(side, _)).map(side.size(_).toLong).sum))
    val (p, q) = (sides.head, sides.last)
    // (probe bucket, base bucket) slots of the kept buckets both sides hold
    val shared = for {
      x <- p.keys.indices.toArray if kept(p, x)
      y = q.slot(p.keys(x)) if y >= 0 && kept(q, y)
    } yield x.toLong << 32 | y
    val bound = shared.iterator.map(s => p.size((s >>> 32).toInt).toLong * q.size(s.toInt)).sum
    if (!fitsOneBroadcast(spark, BigInt(bound) * PairBytes)) None
    else {
      val found = mutable.ArrayBuilder.make[Long]
      for (s <- shared) {
        val (pb, qb) = ((s >>> 32).toInt, s.toInt)
        var m = p.offsets(pb)
        while (m < p.offsets(pb + 1)) {
          val i = p.rows(m)
          var n = q.offsets(qb)
          while (n < q.offsets(qb + 1)) {
            val j = q.rows(n)
            if (pair(i, j)) found += i.toLong << 32 | j
            n += 1
          }
          m += 1
        }
      }
      Some(Candidates(distinctSorted(found.result()), dropped))
    }
  }

  /** `xs` sorted in place, its repeats dropped. */
  private def distinctSorted(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var n = 0
    for (i <- xs.indices if i == 0 || xs(i - 1) != xs(i)) { xs(n) = xs(i); n += 1 }
    java.util.Arrays.copyOf(xs, n)
  }

  /** Ids of collected rows, null where the id is. */
  private[operators] def idsOf(rows: Array[UnsafeRow]): Array[java.lang.Long] =
    rows.map(r => if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)))

  /** The pair rule `a < b` of the symmetric band joins: null ids never pair. */
  private def ascending(ids: Array[java.lang.Long])(i: Int, j: Int): Boolean =
    ids(i) != null && ids(j) != null && ids(i).longValue < ids(j).longValue

  /** `x >= t` as Spark compares doubles: NaN is greatest, -0.0 equals 0.0. */
  private[operators] def atLeast(x: Double, t: Double): Boolean =
    SQLOrderingUtil.compareDoubles(x, t) >= 0

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
    * surviving rows are filtered in place without moving.
    *
    * 128 bits + length makes a false merge (two different texts dropped as
    * duplicates) a ~2^-128 event — negligible at 10^12 documents.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
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
    val removal = broadcast(losers)
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
   * Output: (a_id, b_id, jaccard) with a_id < b_id, one row per (a-row,
   * b-row) text combination of a candidate pair that passes. Solved on the
   * driver when the documents fit one broadcast (see the header).
   */
  def minhashPairs(spark: SparkSession, df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.5,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val docs = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    // Signature + banding is ONE codegen expression (r6: was two chained
    // ScalaUDFs that materialized the 64-long signature array per row).
    val bandsOf = HashExprs.minhashBands(col("text"), shingleN, numHashes, bands)
    val small = collectIfFits(docs.select(col("id"), bandsOf, col("text"))).flatMap { rows =>
      val schema = pairSchema(docs.schema("id"), "jaccard", DoubleType, docs.schema("text"))
      val ids = idsOf(rows)
      val banded = rows.map(r => if (r.isNullAt(1)) null else r.getArray(1).toLongArray())
      driverCandidates(spark, banded, banded, maxBucket)(ascending(ids)).map { c =>
        // each text shingled once, when it first meets a candidate
        val shingles = new Array[Array[Long]](rows.length)
        def shinglesOf(i: Int): Array[Long] = {
          if (shingles(i) == null) shingles(i) = shingleSet(rows(i).getUTF8String(2).toString, shingleN)
          shingles(i)
        }
        val out = for {
          (aRows, bRows) <- c.idPairs(ids); i <- aRows.iterator; j <- bRows.iterator
          if !rows(i).isNullAt(2) && !rows(j).isNullAt(2)
          jac = jaccard(shinglesOf(i), shinglesOf(j)) if atLeast(jac, threshold)
        } yield Row(ids(i), ids(j), jac)
        c.report(spark.createDataFrame(out.toSeq.asJava, schema))
      }
    }
    small.getOrElse {
      // the banded self-join shuffles (id, bucket) ONLY — carrying the
      // document text through the bands-way-exploded shuffle would move
      // ~2*bands x the corpus; texts are hash-joined back per candidate pair
      // instead. The (id, bucket) projection is materialized once before it
      // fans out to capBuckets' count and probe and both sides of the
      // self-join: otherwise the per-shingle hashing runs once only if
      // Catalyst happens to reuse the exchange, and 3-4 times when a
      // consumer's projection drifts. At ~16 bytes a row the eager
      // checkpoint is cheap at any scale.
      val banded = capBuckets(Materialize(docs
        .withColumn("_bucket", explode(bandsOf))
        .select(col("id"), col("_bucket")), eager = true), "_bucket", maxBucket)

      val cand = banded.as("a").join(banded.as("b"),
          col("a._bucket") === col("b._bucket") && col("a.id") < col("b.id"))
        .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
        .dropDuplicates("a_id", "b_id")

      cand
        .join(docs.select(col("id").as("a_id"), col("text").as("a_text")), Seq("a_id"))
        .join(docs.select(col("id").as("b_id"), col("text").as("b_text")), Seq("b_id"))
        .withColumn("jaccard", HashExprs.jaccard(col("a_text"), col("b_text"), shingleN))
        .filter(col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    }
  }

  /** (a_id, b_id, `score`): a band join's answer, nullable as the shuffle
   * path's columns are, where the ids are `ids` and the score is computed
   * from `payload` (nullable when it is). */
  private def pairSchema(ids: StructField, score: String, scoreType: DataType,
                         payload: StructField): StructType = StructType(Seq(
    ids.copy(name = "a_id"), ids.copy(name = "b_id"),
    StructField(score, scoreType, payload.nullable)))

  /** Exact n-gram (word shingle) Jaccard similarity. */
  def jaccard(a: String, b: String, n: Int): Double =
    jaccard(shingleSet(a, n), shingleSet(b, n))

  /** A text's distinct shingle hashes, sorted: the set [[jaccard]] compares. */
  private def shingleSet(text: String, n: Int): Array[Long] =
    distinctSorted(shingleHashes(text, n))

  /** Jaccard of two shingle sets ([[shingleSet]]): 1.0 when both are empty. */
  private def jaccard(sa: Array[Long], sb: Array[Long]): Double =
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      var inter, i, j = 0
      while (i < sa.length && j < sb.length) {
        if (sa(i) < sb(j)) i += 1
        else if (sa(i) > sb(j)) j += 1
        else { inter += 1; i += 1; j += 1 }
      }
      inter.toDouble / (sa.length + sb.length - inter)
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
   * Output: (a_id, b_id, hamming) with a_id < b_id, one row per distinct
   * (a_sh, b_sh) of the row pairs that share a band. Solved on the driver
   * when the rows fit one broadcast (see the header).
   */
  def simhashPairs(spark: SparkSession, df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, maxHamming: Int = 3,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // simhash is a codegen expression; the 4 16-bit band buckets are pure
    // column bit arithmetic; hamming = builtin bit_count(xor) (r6: all
    // three were boxed ScalaUDFs)
    val hashed = df.select(col(idCol).cast("long").as("id"),
      HashExprs.simhash(col(textCol), shingleN).as("sh"))
    val bandsOf = array((0 until 4).map(b =>
      shiftleft(lit(b.toLong), 16).bitwiseOR(
        shiftrightunsigned(col("sh"), 16 * b).bitwiseAND(lit(0xffffL)))): _*)
    val small = collectIfFits(hashed.select(col("id"), col("sh"), bandsOf)).flatMap { rows =>
      val ids = idsOf(rows)
      // a null text's simhash is null, and so are its four bands
      val banded = rows.map(r => if (r.isNullAt(1)) null else r.getArray(2).toLongArray())
      driverCandidates(spark, banded, banded, maxBucket)(ascending(ids)).map { c =>
        val out = c.rowPairs
          .map { case (i, j) => (ids(i).longValue, ids(j).longValue, rows(i).getLong(1), rows(j).getLong(1)) }
          .distinct
          .collect { case (a, b, ash, bsh) if java.lang.Long.bitCount(ash ^ bsh) <= maxHamming =>
            Row(a, b, java.lang.Long.bitCount(ash ^ bsh)) }
        c.report(spark.createDataFrame(out.toSeq.asJava,
          pairSchema(hashed.schema("id"), "hamming", IntegerType, hashed.schema("sh"))))
      }
    }
    small.getOrElse {
      val banded = capBuckets(Materialize(hashed.withColumn("_bucket", explode(bandsOf)),
        eager = true), "_bucket", maxBucket)
      // an id with several texts keeps each of its distinct simhashes
      banded.as("a").join(banded.as("b"),
          col("a._bucket") === col("b._bucket") && col("a.id") < col("b.id"))
        .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
          col("a.sh").as("a_sh"), col("b.sh").as("b_sh"))
        .dropDuplicates("a_id", "b_id", "a_sh", "b_sh")
        .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh"))))
        .filter(col("hamming") <= maxHamming)
        .select("a_id", "b_id", "hamming")
    }
  }

  /**
   * Embedding cosine near-duplicates: pairs with cosine >= threshold, via LSH
   * hyperplane buckets (see [[Ann.signature]]) with Hamming-1 multi-probe
   * (a near-duplicate pair differing in one sign bit still collides) + exact
   * cosine verification. The probe self-join shuffles (id, bucket) only;
   * vectors are hash-joined back per surviving candidate pair. Output:
   * (a_id, b_id, cosine), one row per (a-row, b-row) vector combination of a
   * candidate pair that passes. Solved on the driver when the vectors fit
   * one broadcast (see the header).
   */
  def embeddingPairs(spark: SparkSession, df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, planes: Int = 12,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // signature / probe / cosine kernels are codegen expressions reading
    // the float ArrayData in place (r6: the ScalaUDF forms boxed a
    // Seq[Float] + defensive copy per argument per row)
    val vecs = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val sig = HashExprs.planeSig(col("v"), planes)
    val small = collectIfFits(vecs.select(col("id"), sig, col("v").cast(Ann.FloatVector))).flatMap {
      rows =>
        val ids = idsOf(rows)
        // a null vector's signature is null: no probe, no base bucket
        val sigs = rows.map(r => if (r.isNullAt(1)) None else Some(r.getLong(1)))
        driverCandidates(spark, sigs.map(_.map(HashKernels.sigProbes(_, planes).toLongArray()).orNull),
            sigs.map(_.map(Array(_)).orNull), maxBucket)(ascending(ids)).map { c =>
          val out = for {
            (aRows, bRows) <- c.idPairs(ids); i <- aRows.iterator; j <- bRows.iterator
            if !rows(i).isNullAt(2) && !rows(j).isNullAt(2)
            cos = HashKernels.cosine(rows(i).getArray(2), rows(j).getArray(2)) if atLeast(cos, threshold)
          } yield Row(ids(i), ids(j), cos)
          c.report(spark.createDataFrame(out.toSeq.asJava,
            pairSchema(vecs.schema("id"), "cosine", DoubleType, vecs.schema("v"))))
        }
    }
    small.getOrElse {
      // (id, sig) materialized once: consumed by the probe explode AND the
      // base side, each behind its own capBuckets double-read
      val sigs = Materialize(vecs.withColumn("_sig", sig).select("id", "_sig"), eager = true)
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
}
