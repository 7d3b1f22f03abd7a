package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{HashExprs, HashKernels}
import graft.tables.SplitMix64

/**
 * Approximate-nearest-neighbor search over an embedding column.
 *
 *  - [[bruteForceTopK]]: exact cosine top-k baseline. The dot product is a
 *    deterministic left-to-right fold over the array (fixed order — bit-stable
 *    across partitions); ranking ties break on neighbor id.
 *  - [[lshTopK]]: the scale path — deterministic random-hyperplane signatures
 *    bucket the vectors; search probes the query's bucket plus all 1-bit
 *    neighbor buckets (multi-probe), turning the O(n²) cross join into an
 *    equi-join on bucket id. Recall is tunable via `planes`.
 *  - [[ivfTopK]]: coarse-quantizer lists, probed `nprobe` at a time.
 *
 * Nulls: all three drop rows with a null id or a null vector (after the cast
 * of the id to long) once, up front, as [[Knn.knnJoin]] does. Such a row is
 * neither a query nor anyone's neighbour.
 *
 * Path selection ([[lshTopK]]), as [[Knn.knnJoin]] chooses its own: when
 * the vectors fit one broadcast (`spark.sql.autoBroadcastJoinThreshold`; -1
 * disables it)
 *  - driver: one job collects (id, signature, vector), the signature
 *    computed on the executors; the driver indexes the probe and base
 *    buckets ([[Dedup.driverCandidates]]), scores the candidates with the
 *    codegen kernel [[graft.functions.HashKernels.cosine]] on the same
 *    `ArrayData` the shuffle path reads (so a null element reads the same
 *    on both) and returns the ranked rows as a local relation. The gate is
 *    Spark's size estimate of the collected projection (no job); it
 *    undercounts arrays, so the exact checks are what bound the driver
 *    path: the rows' bytes, counted as they are collected (the collect
 *    stops once they pass the threshold), then the candidate-pair bound at
 *    16 bytes a pair. The shuffle path runs when one fails;
 *  - shuffle, otherwise: the (id, signature) rows are materialized once,
 *    capped and joined on the bucket id, then ranked by a window.
 *
 * Exactness law of [[lshTopK]], the same on both paths:
 *  - the cap ([[Dedup.capBuckets]]) counts probe entries and base entries
 *    separately, one per (row, bucket), not per distinct id; a bucket with
 *    more than `maxBucket` entries on a side is dropped from that side;
 *  - a candidate is a distinct (id, neighbor_id), id != neighbor_id, that
 *    shares a kept bucket; it is scored for every (row of id, row of
 *    neighbor_id) combination, and an id held by several rows ranks all of
 *    its rows' candidates together;
 *  - rows rank by (score desc, neighbor_id) under Spark's double order, as
 *    [[Knn.knnJoin]]'s broadcast path does: NaN is greatest and -0.0 equals
 *    0.0. A query with fewer than k candidates gets all of them; k <= 0
 *    gives no rows.
 */
object Ann {

  /** Deterministic hyperplane component for (plane p, dimension d): ±1 grid.
   * Public: also called from the codegen signature kernel
   * ([[graft.functions.HashKernels.planeSig]]). */
  @inline def planeComponent(p: Int, d: Int): Double =
    if ((SplitMix64.hash(p.toLong * 131071 + d) & 1L) == 0L) 1.0 else -1.0
  @inline private def plane(p: Int, d: Int): Double = planeComponent(p, d)

  /** LSH signature: sign bits of `planes` pseudo-random ±1 hyperplane dots. */
  def signature(v: Array[Float], planes: Int): Long = {
    var sig = 0L
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var d = 0
      while (d < v.length) {
        dot += v(d) * plane(p, d)
        d += 1
      }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** SQL VALUES literal of the ±1 hyperplane grid — lets a DuckDB oracle
   * recompute [[signature]] from the very same plane constants (same
   * precedent as the oracle layer's edge VALUES). */
  def planesSqlValues(planes: Int, dims: Int): String =
    (0 until planes).map { p =>
      val arr = (0 until dims)
        .map(d => if (plane(p, d) > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"($p, $arr)"
    }.mkString(", ")

  /** Cosine similarity; deterministic left-to-right accumulation. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** (id, vec) rows of `df`, without those with a null id or vector. */
  private def vectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .filter(col("id").isNotNull && col("vec").isNotNull)

  /**
   * Exact top-k neighbors per vector by cosine. Output:
   * (id, rank, neighbor_id). O(n²) — the correctness baseline.
   */
  def bruteForceTopK(spark: SparkSession, df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val v = vectors(df, idCol, vecCol)
    // codegen cosine kernel (same left-to-right fold as Ann.cosine — r6 §9)
    val pairs = v.as("a").join(v.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("neighbor_id"),
        graft.functions.HashExprs.cosine(col("a.vec"), col("b.vec")).as("score"))
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("id", "rank", "neighbor_id")
  }

  /**
   * IVF (inverted-file) approximate top-k — the classic coarse-quantizer ANN:
   * deterministic Lloyd iterations build `nlist` centroids; every vector is
   * assigned to its nearest list; a query probes the `nprobe` nearest lists
   * and ranks candidates by exact cosine. At scale the per-list layout is a
   * partitioned table: queries shuffle only (id, list) pairs, candidates
   * co-locate by list id.
   */
  def ivfTopK(spark: SparkSession, df: DataFrame, idCol: String, vecCol: String,
              k: Int, nlist: Int = 16, nprobe: Int = 4, iters: Int = 3): DataFrame = {
    import spark.implicits._
    val v = Materialize(vectors(df, idCol, vecCol), eager = false)

    // deterministic init, skew-hardened: seed with the nlist vectors whose
    // id HASHES are smallest (TakeOrderedAndProject — distributed top-k, no
    // global sort). Hash order spreads seeds uniformly over the corpus even
    // when low ids are clustered in embedding space; ties break on id.
    var centroids: Array[Array[Float]] = v
      .orderBy(xxhash64(col("id")), col("id")).limit(nlist)
      .select("vec").as[Seq[Float]].collect().map(_.toArray)

    // argmax / probe kernels are codegen expressions (r6; ArrayData read in
    // place, centroids as a codegen reference object — no broadcast, no
    // Seq[Float] boxing per row). Fold order identical to the UDF forms.

    // Lloyd: assign -> mean (deterministic; ties in argmax break to lower list)
    var it = 0
    while (it < iters) {
      val assigned = v.withColumn("_l", HashExprs.nearestCentroid(col("vec"), centroids))
      val dims = centroids(0).length
      val sums = assigned
        .select(col("_l"), posexplode(col("vec")).as(Seq("_d", "_x")))
        .groupBy("_l", "_d").agg(sum(col("_x")).as("_s"), count(lit(1)).as("_n"))
        .collect()
      val acc = Array.fill(nlist, dims)(0.0)
      val cnt = new Array[Long](nlist)
      sums.foreach { r =>
        val l = r.getInt(0); val d = r.getInt(1)
        acc(l)(d) = r.getDouble(2)
        cnt(l) = r.getLong(3)
      }
      centroids = Array.tabulate(nlist) { l =>
        if (cnt(l) == 0) centroids(l)
        else acc(l).map(x => (x / cnt(l)).toFloat)
      }
      it += 1
    }

    val lists = Materialize(
      v.withColumn("_l", HashExprs.nearestCentroid(col("vec"), centroids)), eager = false)
    val queries = lists
      .withColumn("_probe", explode(HashExprs.centroidProbes(col("vec"), centroids, nprobe)))
      .select(col("id"), col("vec"), col("_probe").as("_l"))
    val cand = queries.join(
        lists.select(col("id").as("neighbor_id"), col("vec").as("nvec"), col("_l")), Seq("_l"))
      .filter(col("id") =!= col("neighbor_id"))
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("neighbor_id"))
    cand.select(col("id"), col("neighbor_id"),
        graft.functions.HashExprs.cosine(col("vec"), col("nvec")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("id", "rank", "neighbor_id", "score")
  }

  /** The element type the vector kernels read (they cast other numeric
   * arrays to it, as [[graft.functions.PlaneSigExpr]] declares). */
  private[operators] val FloatVector = ArrayType(FloatType)

  /**
   * LSH-bucketed approximate top-k: candidates share a hyperplane bucket with
   * the query (multi-probe: bucket itself + all Hamming-1 neighbors).
   * Output: (id, rank, neighbor_id, score). Solved on the driver when the
   * vectors fit one broadcast (see the header).
   *
   * Shuffle shape (the part that matters at 10^12 rows): the (planes+1)-way
   * probe explode and the bucket self-join carry (id, bucket) pairs ONLY —
   * never the embedding. Vectors are hash-joined back once per side for the
   * surviving candidate pairs (same id-only pattern as
   * [[graft.operators.Dedup.embeddingPairs]]).
   */
  def lshTopK(spark: SparkSession, df: DataFrame, idCol: String, vecCol: String,
              k: Int, planes: Int = 10,
              maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val v = vectors(df, idCol, vecCol)
    // signature / probe / cosine kernels are codegen expressions (r6; see
    // graft.functions.HashKernels — ArrayData read in place, no Seq boxing)
    val sig = HashExprs.planeSig(col("vec"), planes)
    val small = collectIfFits(v.select(col("id"), sig, col("vec").cast(FloatVector))).flatMap { rows =>
      val ids = Dedup.idsOf(rows)
      val sigs = rows.map(_.getLong(1))
      Dedup.driverCandidates(spark, sigs.map(HashKernels.sigProbes(_, planes).toLongArray()),
          sigs.map(Array(_)), maxBucket)((i, j) => ids(i) != ids(j)).map { c =>
        // every row of the query id against every row of the neighbour id,
        // ranked per query id as the window ranks them; the pairs of one
        // query id are adjacent
        val out = mutable.ArrayBuffer.empty[Row]
        val (nids, scores) = (mutable.ArrayBuffer.empty[java.lang.Long], mutable.ArrayBuilder.make[Double])
        def rank(query: java.lang.Long): Unit = {
          val s = scores.result()
          val order = Array.tabulate[Integer](s.length)(Integer.valueOf)
          java.util.Arrays.sort(order, (x: Integer, y: Integer) => {
            val c = SQLOrderingUtil.compareDoubles(s(y), s(x))
            if (c != 0) c else java.lang.Long.compare(nids(x), nids(y))
          })
          for (r <- 0 until math.min(k, s.length)) out += Row(query, r + 1, nids(order(r)), s(order(r)))
          nids.clear()
          scores.clear()
        }
        var query = -1
        for ((aRows, bRows) <- c.idPairs(ids)) {
          if (aRows(0) != query && query >= 0) rank(ids(query))
          query = aRows(0)
          for (i <- aRows; j <- bRows) {
            nids += ids(j)
            scores += HashKernels.cosine(rows(i).getArray(2), rows(j).getArray(2))
          }
        }
        if (query >= 0) rank(ids(query))
        val id = v.schema("id")
        c.report(spark.createDataFrame(out.asJava, StructType(Seq(id,
          StructField("rank", IntegerType, nullable = false), id.copy(name = "neighbor_id"),
          StructField("score", DoubleType, v.schema("vec").nullable)))))
      }
    }
    small.getOrElse {
      // (id, sig) materialized once: probes AND base each re-read it behind
      // capBuckets — without the checkpoint the sig kernel runs up to 4x,
      // guarded only by fragile exchange reuse
      val idSigs = Materialize(v.withColumn("_sig", sig).select("id", "_sig"), eager = true)
      // degenerate-bucket cap on both sides (see Dedup.capBuckets): one
      // megabucket of identical signatures would make the probe join quadratic
      val probes = Dedup.capBuckets(
        idSigs.withColumn("_bucket", explode(HashExprs.sigProbes(col("_sig"), planes)))
          .select(col("id"), col("_bucket")), "_bucket", maxBucket)
      val base = Dedup.capBuckets(
        idSigs.select(col("id").as("neighbor_id"), col("_sig").as("_bucket")),
        "_bucket", maxBucket)
      val cand = probes.join(base, Seq("_bucket"))
        .filter(col("id") =!= col("neighbor_id"))
        .dropDuplicates("id", "neighbor_id")
      val scored = cand
        .join(v, Seq("id"))
        .join(v.select(col("id").as("neighbor_id"), col("vec").as("nvec")), Seq("neighbor_id"))
        .select(col("id"), col("neighbor_id"),
          HashExprs.cosine(col("vec"), col("nvec")).as("score"))
      val w = Window.partitionBy("id").orderBy(col("score").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("id", "rank", "neighbor_id", "score")
    }
  }
}
