package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.PolygonLayer
import graft.operators._
import graft.tables.{Images, SplitMix64, Synthetic}

class OperatorSpec extends SparkSuite {

  import spark.implicits._

  // ------------------------------------------------------------ spatial join

  test("broadcastJoin matches per-point brute force") {
    val layer = Synthetic.polygonLayer(16, seed = 5L, holeEvery = 4)
    val rng = new SplitMix64(77)
    val pts = (0 until 500).map(i => (i.toLong, rng.nextDouble() * 100, rng.nextDouble() * 100))
    val df = pts.toDF("id", "x", "y")
    val got = SpatialJoin.broadcastJoin(spark, df, "x", "y", layer)
      .select("id", "poly_key").as[(Long, Long)].collect().toSet
    val want = pts.flatMap { case (id, x, y) =>
      layer.findShapes(x, y).map(s => (id, layer.shapeKeys(s)))
    }.toSet
    assert(got == want)
  }

  test("cellJoin equals broadcastJoin on single-ring polygons") {
    // and on the default holed layer: the per-shape even-odd fold must
    // reproduce the broadcast path's hole semantics too
    val rng = new SplitMix64(88)
    val pts = (0 until 400).map(i => (i.toLong, rng.nextDouble() * 100, rng.nextDouble() * 100))
    val df = pts.toDF("id", "x", "y")
    Seq(Synthetic.polygonLayer(9, seed = 13L, holeEvery = 0), Synthetic.polygonLayer(9, seed = 13L))
      .foreach { layer =>
        val viaCells = SpatialJoin.cellJoin(spark, df, "x", "y", layer, res = 5)
          .select("id", "poly_key").as[(Long, Long)].collect().toSet
        val viaBroadcast = SpatialJoin.broadcastJoin(spark, df, "x", "y", layer)
          .select("id", "poly_key").as[(Long, Long)].collect().toSet
        assert(viaCells == viaBroadcast && viaCells.nonEmpty)
      }
    // equal point rows are separate matches: (5, 5) twice must not merge
    // into one row with an even IN count
    val square = PolygonLayer.fromShapes(Seq(
      7L -> Seq(Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0, 0.0, 0.0))))
    val dups = Seq((5.0, 5.0), (5.0, 5.0), (6.0, 6.0)).toDF("x", "y")
    def rows(joined: DataFrame): Seq[(Double, Double, Long)] =
      joined.select("x", "y", "poly_key").as[(Double, Double, Long)].collect().toSeq.sorted
    val viaCells = rows(SpatialJoin.cellJoin(spark, dups, "x", "y", square, res = 4))
    assert(viaCells == rows(SpatialJoin.broadcastJoin(spark, dups, "x", "y", square)))
    assert(viaCells == Seq((5.0, 5.0, 7L), (5.0, 5.0, 7L), (6.0, 6.0, 7L)))
  }

  // -------------------------------------------------------------------- kNN

  /** Top-k by definition: per id, the k rows with another id first in
   * (dist2, neighbour id), as (rank, neighbor_id, dist2). */
  private def bruteKnn(pts: Seq[(Long, Double, Double)], k: Int): Map[Long, Seq[(Int, Long, Double)]] =
    pts.groupBy(_._1).map { case (id, mine) =>
      id -> mine.flatMap { case (_, x, y) =>
        pts.filter(_._1 != id).map { case (j, bx, by) => (j, (x - bx) * (x - bx) + (y - by) * (y - by)) }
      }.sortBy { case (j, d) => (d, j) }.take(k).zipWithIndex
        .map { case ((j, d), r) => (r + 1, j, d) }
    }.filter(_._2.nonEmpty)

  private def knnRows(df: org.apache.spark.sql.DataFrame, k: Int,
                      bruteForceBudget: Long = 50000000L): Map[Long, Seq[(Int, Long, Double)]] =
    Knn.knnJoin(spark, df, "id", "x", "y", k, bruteForceBudget = bruteForceBudget)
      .as[(Long, Int, Long, Double)].collect().toSeq
      .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2).map(r => (r._2, r._3, r._4)) }

  /** The three kNN paths: the broadcast KD-tree (default settings), the
   * brute-force cross join (broadcast off) and ring rounds (broadcast off,
   * no brute-force cutover). */
  private val knnPaths: Seq[(String, (org.apache.spark.sql.DataFrame, Int) => Map[Long, Seq[(Int, Long, Double)]])] =
    Seq(
      "broadcast" -> ((df, k) => knnRows(df, k)),
      "cross join" -> ((df, k) => withBroadcastThreshold("-1")(knnRows(df, k))),
      "ring rounds" -> ((df, k) => withBroadcastThreshold("-1")(knnRows(df, k, bruteForceBudget = 0L))))

  test("knnJoin matches brute-force top-k") {
    val rng = new SplitMix64(5)
    val uniform = (0 until 300).map(i => (i.toLong, rng.nextDouble() * 100, rng.nextDouble() * 100))
    // most points in one small box, a few far outliers
    val crng = new SplitMix64(7)
    val clustered = (0 until 300).map { i =>
      if (i % 15 == 0) (i.toLong, crng.nextDouble() * 170, crng.nextDouble() * 85)
      else (i.toLong, 10 + crng.nextDouble() * 0.5, 10 + crng.nextDouble() * 0.5)
    }
    // 25 lattice sites, 8 points each: dist2 ties (0 and lattice steps)
    // resolve by neighbor_id
    val repeated = (0 until 200).map(i => (i.toLong, (i % 5).toDouble, (i / 5 % 5).toDouble))
    // rows with a null id, x or y are dropped on every path (a null dist2
    // would otherwise sort first and make such a point everyone's nearest)
    val nulls = Seq((Some(1L), Some(0.0), Some(0.0)), (Some(2L), Some(1.0), Some(0.0)),
      (Some(3L), Some(0.0), Some(2.0)), (Some(4L), Some(5.0), Some(5.0)),
      (Some(5L), None, Some(1.0)), (Some(6L), Some(0.5), None), (None, Some(0.0), Some(0.5)))
    val nonNull = nulls.collect { case (Some(i), Some(x), Some(y)) => (i, x, y) }
    // the window partitions by id: an id held by several points gets the top
    // k of all their candidates
    val repeatedIds = Seq((1L, 0.0, 0.0), (1L, 10.0, 10.0), (2L, 1.0, 0.0), (3L, 9.0, 10.0),
      (4L, 5.0, 5.0), (2L, 2.0, 1.0), (5L, 10.0, 9.0))
    val k = 4
    assert(bruteKnn(nonNull, k)(1L) == Seq((1, 2L, 1.0), (2, 3L, 4.0), (3, 4L, 50.0)))
    assert(bruteKnn(repeatedIds, k)(1L) == Seq((1, 2L, 1.0), (2, 3L, 1.0), (3, 5L, 1.0), (4, 2L, 5.0)))
    val cases = Seq(
      ("uniform", uniform.toDF("id", "x", "y"), uniform),
      ("clustered", clustered.toDF("id", "x", "y"), clustered),
      ("repeated coordinates", repeated.toDF("id", "x", "y"), repeated),
      ("null id, x or y", nulls.toDF("id", "x", "y"), nonNull),
      ("repeated ids", repeatedIds.toDF("id", "x", "y"), repeatedIds))
    for ((name, df, pts) <- cases) {
      val want = bruteKnn(pts, k)
      for ((path, run) <- knnPaths) {
        val got = run(df, k)
        val diff = (got.keySet ++ want.keySet).filter(id => got.get(id) != want.get(id)).toSeq.sorted
        assert(diff.isEmpty, s"$name input via $path: ${diff.take(3).map(id =>
          s"$id got ${got.get(id)} want ${want.get(id)}").mkString("; ")}")
      }
    }
  }

  test("knnJoin with k >= n-1 returns all other points (straggler path)") {
    val pts = Seq((1L, 0.0, 0.0), (2L, 1.0, 0.0), (3L, 0.0, 1.0), (4L, 50.0, 50.0)).toDF("id", "x", "y")
    // k > n-1: the tree search runs out of points; ring rounds end as stragglers
    for ((path, run) <- knnPaths.filter(_._1 != "cross join")) {
      val out = run(pts, 5).view.mapValues(_.map(_._2).toSet).toMap
      // every point still reports its 3 real neighbors despite k being unsatisfiable
      assert(out.keySet == Set(1L, 2L, 3L, 4L), path)
      assert(out(1L) == Set(2L, 3L, 4L), path)
      assert(out(4L) == Set(1L, 2L, 3L), path)
    }
  }

  test("distanceJoin matches brute force") {
    val rng = new SplitMix64(6)
    val pts = (0 until 300).map(i => (i.toLong, rng.nextDouble() * 100, rng.nextDouble() * 100))
    val df = pts.toDF("id", "x", "y")
    val r = 5.0
    val got = Knn.distanceJoin(spark, df, "id", "x", "y", r)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val want = (for {
      (i, xi, yi) <- pts
      (j, xj, yj) <- pts
      if i < j && (xi - xj) * (xi - xj) + (yi - yj) * (yi - yj) <= r * r
    } yield (i, j)).toSet
    assert(got == want)
  }

  test("distanceJoin: null ids are dropped and a shared id never pairs with itself") {
    // id 4 twice, in neighbouring res-8 cells (1.3 and 1.45 either side of
    // 1.40625); a null id one cell over from id 1
    val df = Seq((Some(1L), 1.0, 0.0), (None, 1.5, 0.0), (Some(4L), 1.3, 0.0), (Some(4L), 1.45, 0.0))
      .toDF("id", "x", "y")
    val got = Knn.distanceJoin(spark, df, "id", "x", "y", 1.0)
      .select("a_id", "b_id", "dist2").as[(Long, Long, Double)].collect().sortBy(_._3).toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((1L, 4L), (1L, 4L)), got)
    assert(got.map(_._3) == Seq((1.0 - 1.3) * (1.0 - 1.3), (1.0 - 1.45) * (1.0 - 1.45)), got)
  }

  // --------------------------------------------------------------- dissolve

  test("dissolve cancels shared edges: 2x2 block -> 8 boundary edges, 1 ring") {
    val squares = Seq((0, 0), (1, 0), (0, 1), (1, 1)).map { case (cx, cy) =>
      val x = cx.toDouble; val y = cy.toDouble
      ("g1", Array(x, y, x + 1, y, x + 1, y + 1, x, y + 1, x, y))
    }
    val df = squares.toDF("g", "ring")
    val out = Dissolve.dissolve(spark, df, "g", "ring")
      .select("group", "n_rings_in", "n_boundary_edges", "n_rings_out")
      .as[(String, Long, Long, Int)].collect()
    assert(out.toSeq == Seq(("g1", 4L, 8L, 1)))
  }

  test("dissolve with interior hole: donut of 8 squares -> 2 rings") {
    val cells = for { cx <- 0 to 2; cy <- 0 to 2; if !(cx == 1 && cy == 1) } yield (cx, cy)
    val df = cells.map { case (cx, cy) =>
      val x = cx.toDouble; val y = cy.toDouble
      ("g", Array(x, y, x + 1, y, x + 1, y + 1, x, y + 1, x, y))
    }.toDF("g", "ring")
    val out = Dissolve.dissolve(spark, df, "g", "ring")
      .select("n_rings_in", "n_boundary_edges", "n_rings_out")
      .as[(Long, Long, Int)].collect().head
    assert(out == ((8L, 16L, 2))) // 12 outer + 4 hole edges, outer ring + hole ring
  }

  test("EdgeCancel.merge drops an edge that both buffers hold") {
    val agg = new Dissolve.EdgeCancel()
    val a = agg.reduce(agg.zero, Array(0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0, 0.0, 0.0))
    val b = agg.reduce(agg.zero, Array(1.0, 0.0, 2.0, 0.0, 2.0, 1.0, 1.0, 1.0, 1.0, 0.0))
    val merged = agg.merge(a, b)
    // the shared side x = 1 cancels; the 6 outer sides stay, each once
    assert(!merged.contains((1.0, 0.0, 1.0, 1.0)), merged)
    assert(merged.size == 6 && merged.values.forall(_ == 1), merged)
  }

  // ------------------------------------------------------------------ dedup

  test("exact dedup keeps lowest id per key") {
    val df = Seq((3L, "aaa"), (1L, "aaa"), (2L, "bbb")).toDF("id", "t")
    val out = Dedup.exact(df, "id", "t").select("id").as[Long].collect().toSet
    assert(out == Set(1L, 2L))
    // NULL texts form ONE dedup group (window-partition semantics)
    val withNulls = Seq((5L, null), (4L, null), (6L, "x")).toDF("id", "t")
    val out2 = Dedup.exact(withNulls, "id", "t").select("id").as[Long].collect().toSet
    assert(out2 == Set(4L, 6L))
  }

  test("minhash finds near-duplicate pairs and skips distinct docs") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val nearDup = base.replace("runs", "walks")
    val other = "completely different content about spark catalyst optimizer rules and typed datasets"
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("id", "t")
    val pairs = Dedup.minhashPairs(spark, df, "id", "t", threshold = 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    // jaccard sanity
    assert(Dedup.jaccard(base, base, 3) == 1.0)
    assert(Dedup.jaccard(base, other, 3) == 0.0)
  }

  test("simhash hamming distance small for near dups") {
    val a = Dedup.simhash("the quick brown fox jumps over the lazy dog again and again", 3)
    val b = Dedup.simhash("the quick brown fox jumps over the lazy cat again and again", 3)
    val c = Dedup.simhash("spark sql catalyst whole stage codegen tungsten parquet pushdown", 3)
    assert(java.lang.Long.bitCount(a ^ b) < java.lang.Long.bitCount(a ^ c))
  }

  test("embeddingPairs recall >= 0.9 on planted noisy near-duplicates") {
    // 150 random base vectors + a NOISY near-copy of each (not exact: every
    // component is jittered, so signatures can differ by a bit or two and the
    // Hamming-1 multi-probe has to do real work)
    val rng = new SplitMix64(23)
    val base = (0 until 150).map { i =>
      (i.toLong, Array.tabulate(24)(_ => (rng.nextDouble() * 2 - 1).toFloat))
    }
    val jit = new SplitMix64(99)
    val noisy = base.map { case (id, v) =>
      (id + 1000L, v.map(x => x + (jit.nextDouble() * 2 - 1).toFloat * 0.05f))
    }
    val df = (base ++ noisy).map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")
    val found = Dedup.embeddingPairs(spark, df, "id", "vec", threshold = 0.95)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // ground truth: exhaustive pairs above threshold
    val all = base ++ noisy
    val truth = (for {
      i <- all.indices; j <- (i + 1) until all.length
      if Ann.cosine(all(i)._2, all(j)._2) >= 0.95
    } yield {
      val (a, b) = (all(i)._1, all(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    assert(truth.size >= 100, s"fixture degenerate: ${truth.size} true pairs")
    val recall = found.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall=$recall (${found.size} found / ${truth.size} true)")
    // and no false positives survive the exact cosine verification
    assert(found.subsetOf(truth))
  }

  // -------------------------------------------------------------------- ann

  test("ivfTopK recall vs brute force >= 0.9 on clustered vectors") {
    val rng = new SplitMix64(29)
    val vecs = (0 until 240).map { i =>
      val center = i % 6
      val v = Array.tabulate(16)(d =>
        (if (d % 6 == center) 1.0f else 0.0f) + rng.nextDouble().toFloat * 0.15f)
      (i.toLong, v.toSeq)
    }
    val df = vecs.toDF("id", "vec")
    val exact = Ann.bruteForceTopK(spark, df, "id", "vec", 3)
      .select("id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Ann.ivfTopK(spark, df, "id", "vec", 3, nlist = 12, nprobe = 4)
      .select("id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("IVF codegen kernels match the UDF folds they replaced (ties, zeros)") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import graft.functions.HashKernels
    // reference folds: verbatim copies of the r5 UDF bodies
    def refNearest(arr: Array[Float], cents: Array[Array[Float]]): Int = {
      var best = 0; var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < cents.length) {
        val s = Ann.cosine(arr, cents(i))
        if (s > bestScore) { bestScore = s; best = i }
        i += 1
      }
      best
    }
    def refProbes(arr: Array[Float], cents: Array[Array[Float]], nprobe: Int): Seq[Int] =
      cents.indices.map(i => (Ann.cosine(arr, cents(i)), i))
        .sortBy { case (s, i) => (-s, i) }.take(nprobe).map(_._2)

    val rng = new SplitMix64(41)
    val dims = 16
    val cents = Array.tabulate(12)(_ =>
      Array.fill(dims)((rng.nextDouble() * 2 - 1).toFloat))
    cents(7) = cents(2).clone()          // exact argmax/ordering tie
    cents(9) = Array.fill(dims)(0.0f)    // zero-norm centroid -> score 0.0
    val probes =
      (0 until 500).map(_ => Array.fill(dims)((rng.nextDouble() * 2 - 1).toFloat)) ++
      Seq(Array.fill(dims)(0.0f),        // all-tie query (every score 0.0)
        cents(2).clone(), cents(9).clone())
    val centData = HashKernels.asArrayData(cents)
    for (v <- probes) {
      val ad = ArrayData.toArrayData(v)
      assert(HashKernels.nearestCentroid(ad, centData) == refNearest(v, cents))
      assert(HashKernels.centroidProbes(ad, centData, 4).toIntArray().toSeq ==
        refProbes(v, cents, 4))
      for ((c, cd) <- cents.zip(centData))
        assert(java.lang.Double.doubleToLongBits(HashKernels.cosine(ad, cd)) ==
          java.lang.Double.doubleToLongBits(Ann.cosine(v, c)))
    }
  }

  test("lshTopK recall vs brute force is high on clustered vectors") {
    val rng = new SplitMix64(17)
    val vecs = (0 until 200).map { i =>
      val center = i % 5
      val v = Array.tabulate(16)(d => (if (d % 5 == center) 1.0f else 0.0f) + rng.nextDouble().toFloat * 0.2f)
      (i.toLong, v.toSeq)
    }
    val df = vecs.toDF("id", "vec")
    val exact = Ann.bruteForceTopK(spark, df, "id", "vec", 3)
      .select("id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(spark, df, "id", "vec", 3, planes = 8)
      .select("id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall") // measured 0.973 on this fixture
  }

  // every Ann method drops rows with a null id or vector up front: with k
  // above the row count, a kept null vector would be someone's neighbour
  private def annNullCase(run: (DataFrame, Int) => DataFrame): Unit = {
    val rng = new SplitMix64(53)
    val clean = (0 until 40).map { i =>
      val v = Array.tabulate(8)(d => (if (d % 4 == i % 4) 1.0f else 0.0f) + rng.nextDouble().toFloat * 0.1f)
      (Option(i.toLong), Option(v.toSeq))
    }
    val nulls = Seq((Option.empty[Long], Option(Seq.fill(8)(0.5f))), (Option(1000L), Option.empty[Seq[Float]]))
    val cleanDf = clean.toDF("id", "vec")
    val withNulls = cleanDf.union(nulls.toDF("id", "vec"))
    def rows(df: DataFrame) =
      run(df, 50).select("id", "rank", "neighbor_id").as[(Option[Long], Int, Option[Long])].collect().toSet
    val want = rows(cleanDf)
    val got = rows(withNulls)
    assert(want.nonEmpty)
    val bad = got.filterNot { case (id, _, nb) => id.exists(_ < 40) && nb.exists(_ < 40) }
    assert(bad.isEmpty, s"null-id or null-vector rows in the output: $bad")
    assert(got == want)
  }

  test("bruteForceTopK drops rows with a null id or vector") {
    annNullCase((df, k) => Ann.bruteForceTopK(spark, df, "id", "vec", k))
  }

  test("ivfTopK drops rows with a null id or vector") {
    annNullCase((df, k) => Ann.ivfTopK(spark, df, "id", "vec", k, nlist = 4, nprobe = 2))
  }

  test("lshTopK drops rows with a null id or vector") {
    annNullCase((df, k) => Ann.lshTopK(spark, df, "id", "vec", k, planes = 6))
  }

  // ------------------------------------------ LSH band joins: driver vs shuffle

  /** Whether `df` reads a checkpoint: every shuffle path of the band joins
   * materializes its band rows; no driver path does. */
  private def readsCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])

  /** A row as text, each double by its bits. */
  private def rowBits(r: Row): String = r.toSeq.map {
    case d: Double => f"0x${java.lang.Double.doubleToLongBits(d)}%016x"
    case v => String.valueOf(v)
  }.mkString("(", ", ", ")")

  /** `op` on the driver path (the default threshold) and on the shuffle path
   * (-1): the same schema and the same multiset of rows, doubles bit for
   * bit. `small` tells the driver path's frame from the shuffle path's (by
   * default: no checkpoint read). Returns the rows. */
  private def samePaths(what: String, small: DataFrame => Boolean = !readsCheckpoint(_))(
      op: => DataFrame): Seq[String] = {
    val driver = op
    assert(small(driver), s"$what: not on the driver path")
    val want = withBroadcastThreshold("-1") {
      val shuffle = op
      assert(!small(shuffle), s"$what: not on the shuffle path")
      assert(driver.schema == shuffle.schema, s"$what: ${driver.schema} vs ${shuffle.schema}")
      shuffle.collect().map(rowBits).toSeq.sorted
    }
    val got = driver.collect().map(rowBits).toSeq.sorted
    assert(got == want,
      s"$what: driver has ${got.diff(want).take(4)}, shuffle has ${want.diff(got).take(4)}")
    got
  }

  /** (id, vec) rows under an explicit schema: ids and elements may be null. */
  private def vecFrame(idType: DataType, rows: Seq[(Any, Seq[Any])]): DataFrame =
    spark.createDataFrame(rows.map { case (id, v) => Row(id, v) }.asJava, StructType(Seq(
      StructField("id", idType), StructField("vec", ArrayType(FloatType)))))

  /** (id, t) rows under an explicit schema: ids and texts may be null. */
  private def textFrame(idType: DataType, rows: Seq[(Any, String)]): DataFrame =
    spark.createDataFrame(rows.map { case (id, t) => Row(id, t) }.asJava, StructType(Seq(
      StructField("id", idType), StructField("t", StringType))))

  /** Vector inputs of the differential tests, each with the cap it runs at. */
  private lazy val vectorCases: Seq[(String, DataFrame, Int)] = {
    val rng = new SplitMix64(61)
    def rand(dims: Int): Seq[Any] = Seq.fill(dims)((rng.nextDouble() * 2 - 1).toFloat)
    // SkewSpec's planted zero-vector megabucket
    val srng = new SplitMix64(17)
    val skew = (0 until 50).map(i => (i.toLong: Any, Seq.fill(8)(srng.nextDouble().toFloat - 0.5f): Seq[Any])) ++
      (1000 until 2000).map(i => (i.toLong: Any, Seq.fill(8)(0.0f): Seq[Any]))
    // buckets of exactly the cap (5 copies of a) and one over (6 of b); c
    // signs one bit away from a, so a's bucket holds 5 base rows but 6 probe
    // rows: the sides are capped separately
    val a = rand(12).map(_.asInstanceOf[Float])
    val b = rand(12)
    val planes = 10
    def sig(v: Seq[Any]) = Ann.signature(v.map(_.asInstanceOf[Float]).toArray, planes)
    val c = Iterator.continually(a.map(x => x + (rng.nextDouble() * 2 - 1).toFloat * 0.3f))
      .find(v => java.lang.Long.bitCount(sig(v) ^ sig(a)) == 1).get
    // the cap counts rows, not ids: 6 rows of d under 5 ids are over it, and
    // so are 6 rows of f, one with a null id (lshTopK drops that row first);
    // 3 copies of e are 3 probe and 3 base rows, under the cap on each side
    val (d, e, f) = (rand(12), rand(12), rand(12))
    val capped = (1 to 5).map(i => (i.toLong: Any, a: Seq[Any])) ++
      (11 to 16).map(i => (i.toLong: Any, b)) ++ Seq((21L: Any, c: Seq[Any])) ++
      Seq(31L, 32L, 33L, 34L, 35L, 35L).map(i => (i: Any, d)) ++
      Seq(51L, 52L, 53L).map(i => (i: Any, e)) ++
      Seq(41L, 42L, 43L, 44L, 45L, null).map(i => (i: Any, f)) ++
      (100 until 140).map(i => (i.toLong: Any, rand(12)))
    // null ids, null vectors, a null element, ragged vectors, NaN and
    // infinite components, an id held by three rows with different vectors
    val odd: Seq[(Any, Seq[Any])] = (0 until 30).map(i => (i.toLong: Any, rand(6))) ++ Seq(
      (null, rand(6)), (null, rand(6)), (40L, null), (41L, Seq(0.5f, null, -0.25f, 1f, 0f, 0.1f)),
      (42L, rand(4)), (43L, rand(9)), (44L, Seq()), (45L, Seq(Float.NaN, 1f, 1f, 0f, 0f, 0f)),
      (46L, Seq(Float.PositiveInfinity, 1f, 0f, 0f, 0f, 0f)),
      (47L, Seq(Float.NegativeInfinity, 0f, 1f, 0f, 0f, 0f)), (48L, Seq.fill(6)(0f)),
      (3L, rand(6)), (3L, rand(6)), (7L, null))
    // equal vectors under ids in descending row order: every score ties,
    // so the rank comes from the neighbour id alone
    val g = rand(6)
    val ties = (80L to 73L by -1L).map(i => (i: Any, g)) ++ (0 until 10).map(i => (i.toLong: Any, rand(6)))
    // string ids: a null string casts to a null id
    val strIds: Seq[(Any, Seq[Any])] = (0 until 25).map(i => (i.toString: Any, rand(5))) ++
      Seq((null, rand(5)), ("7", rand(5)))
    Seq(("zero-vector megabucket", vecFrame(LongType, skew), 60),
      ("buckets at and over the cap", vecFrame(LongType, capped), 5),
      ("nulls, odd vectors, repeated ids", vecFrame(LongType, odd), Dedup.DefaultMaxBucket),
      ("tied scores", vecFrame(LongType, ties), Dedup.DefaultMaxBucket),
      ("string ids", vecFrame(StringType, strIds), Dedup.DefaultMaxBucket),
      ("no cap", vecFrame(LongType, odd), 0))
  }

  /** Text inputs of the differential tests, each with the cap it runs at. */
  private lazy val textCases: Seq[(String, DataFrame, Int)] = {
    val rng = new SplitMix64(67)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def text(n: Int): String = Seq.fill(n)(words(rng.nextInt(words.length))).mkString(" ")
    // SkewSpec's planted empty-caption megabucket
    val fox = "the quick brown fox jumps over the lazy dog and runs far away into the woods"
    val skew = Seq((1L: Any, fox), (2L: Any, fox.replace("runs", "walks"))) ++
      (1000 until 3000).map(i => (i.toLong: Any, ""))
    // every band of 5 equal texts at the cap, of 6 equal texts over it
    val capped = (1 to 5).map(i => (i.toLong: Any, "one two three four five six")) ++
      (11 to 16).map(i => (i.toLong: Any, "red green blue cyan magenta")) ++
      Seq(31L, 32L, 33L, 34L, 35L, 35L).map(i => (i: Any, "north south east west")) ++
      Seq(41L, 42L, 43L, 44L, 45L, null).map(i => (i: Any, "up down left right")) ++
      Seq((21L: Any, "one two three four five six seven")) ++
      (100 until 140).map(i => (i.toLong: Any, text(3 + rng.nextInt(6))))
    // null ids and texts, texts shorter than the shingle, repeated ids with
    // different texts
    val odd: Seq[(Any, String)] = (0 until 60).map(i => (i.toLong: Any, text(2 + rng.nextInt(7)))) ++
      Seq((null, text(5)), (null, text(5)), (70L, null), (71L, "hi"), (72L, "a b"), (73L, ""),
        (74L, "  !! "), (5L, text(4)), (5L, null), (9L, text(6)))
    val strIds: Seq[(Any, String)] = (0 until 40).map(i => (i.toString: Any, text(3 + rng.nextInt(4)))) ++
      Seq((null, text(4)), ("8", text(4)), ("50", "beta eta zeta"), ("51", "beta eta zeta"),
        (null, "beta eta zeta"))
    Seq(("empty-caption megabucket", textFrame(LongType, skew), 50),
      ("buckets at and over the cap", textFrame(LongType, capped), 5),
      ("nulls, short texts, repeated ids", textFrame(LongType, odd), Dedup.DefaultMaxBucket),
      ("string ids", textFrame(StringType, strIds), Dedup.DefaultMaxBucket),
      ("no cap", textFrame(LongType, odd), 0))
  }

  test("lshTopK: driver and shuffle paths give the same rows") {
    for ((name, df, cap) <- vectorCases; k <- Seq(0, 2, 60)) {
      val rows = samePaths(s"$name, k = $k")(Ann.lshTopK(spark, df, "id", "vec", k,
        planes = 10, maxBucket = cap))
      assert(rows.nonEmpty == (k > 0), s"$name, k = $k")
    }
  }

  test("embeddingPairs: driver and shuffle paths give the same rows") {
    for ((name, df, cap) <- vectorCases; threshold <- Seq(-1.0, 0.9))
      samePaths(s"$name, threshold $threshold")(Dedup.embeddingPairs(spark, df, "id", "vec",
        threshold, planes = 10, maxBucket = cap))
  }

  test("minhashPairs: driver and shuffle paths give the same rows") {
    for ((name, df, cap) <- textCases; threshold <- Seq(0.0, 0.4))
      assert(samePaths(s"$name, threshold $threshold")(Dedup.minhashPairs(spark, df, "id", "t",
        threshold = threshold, maxBucket = cap)).nonEmpty, name)
  }

  test("simhashPairs: driver and shuffle paths give the same rows") {
    for ((name, df, cap) <- textCases; maxHamming <- Seq(3, 64))
      samePaths(s"$name, maxHamming $maxHamming")(Dedup.simhashPairs(spark, df, "id", "t",
        maxHamming = maxHamming, maxBucket = cap))
  }

  test("both paths report their capped rows under the lsh_bucket_cap observations") {
    /** dropped_rows of each cap observation, in the order the caps were made */
    def dropped(df: DataFrame): Seq[Any] = {
      df.collect()
      df.queryExecution.observedMetrics.toSeq.filter(_._1.startsWith("lsh_bucket_cap_"))
        .sortBy(_._1.stripPrefix("lsh_bucket_cap_").toInt).map(_._2.getAs[Any]("dropped_rows"))
    }
    // the shuffle path is built under -1 but runs with broadcast joins: a
    // sort-merge join stops reading the capped side once the other side is
    // exhausted, so its rows past the last matching bucket are never counted.
    // When its answer is empty, adaptive execution replaces the plan by an
    // empty relation and no observation is reported at all.
    def same(what: String, cap: Int)(op: => DataFrame): Unit = {
      val want = dropped(withBroadcastThreshold("-1")(op))
      val got = dropped(op)
      assert(got.nonEmpty == (cap > 0) && (want.isEmpty || got == want), s"$what: $got vs $want")
    }
    for ((name, df, cap) <- vectorCases) {
      same(s"lshTopK, $name", cap)(Ann.lshTopK(spark, df, "id", "vec", 2, planes = 10, maxBucket = cap))
      same(s"embeddingPairs, $name", cap)(Dedup.embeddingPairs(spark, df, "id", "vec", 0.9,
        planes = 10, maxBucket = cap))
    }
    for ((name, df, cap) <- textCases) {
      same(s"minhashPairs, $name", cap)(Dedup.minhashPairs(spark, df, "id", "t", maxBucket = cap))
      same(s"simhashPairs, $name", cap)(Dedup.simhashPairs(spark, df, "id", "t", maxBucket = cap))
    }
    // the planted megabuckets report their drops: 1 000 zero vectors, and 16
    // bands of 2 000 empty captions
    val skewVecs = vectorCases.head._2
    assert(dropped(Ann.lshTopK(spark, skewVecs, "id", "vec", 2, planes = 10, maxBucket = 60))
      .forall(_.asInstanceOf[Long] >= 1000L))
    assert(dropped(Dedup.minhashPairs(spark, textCases.head._2, "id", "t", maxBucket = 50)) ==
      Seq(32000L))
  }

  test("simhashPairs keeps every distinct simhash pair of an id with several texts") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods"
    val rows = Seq((1L, base), (1L, base + " tonight"), (2L, base), (2L, base.replace("fox", "cat")),
      (3L, "spark catalyst rules and typed datasets are not like foxes at all"), (3L, null))
    val df = rows.toDF("id", "t")
    def bands(sh: Long) = (0 until 4).map(b => (b.toLong << 16) | ((sh >>> (16 * b)) & 0xffffL)).toSet
    val maxHamming = 20
    // by definition: each row pair with a_id < b_id that shares a band, once
    // per distinct (a_sh, b_sh)
    val hashed = rows.collect { case (id, t) if t != null => (id, Dedup.simhash(t, 3)) }
    val want = (for {
      (a, ash) <- hashed; (b, bsh) <- hashed
      if a < b && bands(ash).intersect(bands(bsh)).nonEmpty
    } yield (a, b, ash, bsh)).distinct
      .map { case (a, b, ash, bsh) => (a, b, java.lang.Long.bitCount(ash ^ bsh)) }
      .filter(_._3 <= maxHamming).sorted
    assert(want.count(r => r._1 == 1L && r._2 == 2L) >= 2, s"fixture has one (1, 2) row: $want")
    def got = Dedup.simhashPairs(spark, df, "id", "t", maxHamming = maxHamming)
      .as[(Long, Long, Int)].collect().toSeq.sorted
    assert(withBroadcastThreshold("-1")(got) == want, "shuffle path")
    assert(got == want, "driver path")
  }

  test("band joins take the shuffle path when the exact sizes do not fit one broadcast") {
    // long texts: Spark's estimate (a fixed width per string) is far below
    // the collected bytes
    val rng = new SplitMix64(71)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (0 until 60).map(i =>
      (i.toLong, Seq.fill(160)(words(rng.nextInt(words.length))).mkString(" "))).toDF("id", "t")
    val threshold = 20000L
    assert(docs.queryExecution.optimizedPlan.stats.sizeInBytes * 4 < threshold)
    assert(docs.as[(Long, String)].collect().map(_._2.length.toLong).sum > 2 * threshold)
    def minhash = Dedup.minhashPairs(spark, docs, "id", "t", threshold = 0.2)
    val want = samePaths("long texts")(minhash)
    withBroadcastThreshold(threshold.toString) {
      val df = minhash
      assert(readsCheckpoint(df), "rows over the threshold were solved on the driver")
      assert(df.collect().map(rowBits).toSeq.sorted == want)
    }
    // 100 equal vectors: 100 x 100 candidate pairs (160 KB at 16 bytes) from
    // ~10 KB of rows
    val vecs = (0 until 100).map(i => (i.toLong, Seq(1f, 2f, 3f, 4f))).toDF("id", "vec")
    def topK = Ann.lshTopK(spark, vecs, "id", "vec", 3, maxBucket = 200)
    val wantTopK = samePaths("equal vectors")(topK)
    withBroadcastThreshold("60000") {
      val df = topK
      assert(readsCheckpoint(df), "a candidate bound over the threshold was solved on the driver")
      assert(df.collect().map(rowBits).toSeq.sorted == wantTopK)
    }
  }

  test("the driver paths' collect stops reading once the rows pass the bound") {
    val read = spark.sparkContext.longAccumulator("rows_read")
    val counted = udf { (s: String) => read.add(1); s }
    // 2 000 rows of 120 bytes in 4 partitions; 20 000 bytes hold ~166 rows
    val df = spark.range(0, 2000, 1, 4)
      .select(counted(lpad(col("id").cast("string"), 100, "x")).as("t"))
    assert(org.apache.spark.sql.GraftBridge.collectUnsafeWithin(df, 20000L).isEmpty)
    assert(read.value <= 4 * 170, s"read ${read.value} of 2000 rows past a 20 000-byte bound")
    val all = org.apache.spark.sql.GraftBridge.collectUnsafeWithin(df, 1L << 30).get
    assert(all.map(_.getUTF8String(0).toString).toSeq.sorted ==
      (0 until 2000).map(i => i.toString.reverse.padTo(100, 'x').reverse).sorted)
  }

  // ---------------------------------- point joins and dissolve: driver vs shuffle

  /** Whether `df`'s plan holds an expression of class `c`. */
  private def uses(df: DataFrame, c: Class[_]): Boolean =
    df.queryExecution.analyzed.exists(_.expressions.exists(_.exists(c.isInstance)))

  /** (id, x, y) rows under an explicit schema: any value may be null. */
  private def pointFrame(rows: Seq[(Any, Any, Any)]): DataFrame =
    spark.createDataFrame(rows.map { case (id, x, y) => Row(id, x, y) }.asJava, StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType), StructField("y", DoubleType))))

  /** Point inputs of the point-join differential tests. */
  private lazy val pointCases: Seq[(String, Seq[(Any, Any, Any)])] = {
    val rng = new SplitMix64(91)
    val uniform = (0 until 300).map(i => (i.toLong: Any, rng.nextDouble() * 40: Any, rng.nextDouble() * 40: Any))
    // most points in one small box, a few far outliers
    val clustered = (0 until 300).map { i =>
      if (i % 15 == 0) (i.toLong: Any, rng.nextDouble() * 170: Any, rng.nextDouble() * 85: Any)
      else (i.toLong: Any, 10 + rng.nextDouble() * 3: Any, 10 + rng.nextDouble() * 3: Any)
    }
    // lattices whose neighbours sit at exactly the radius (2.0: dist2 4.0
    // exactly; 0.1: i * 0.1 steps round either side of the radius), more
    // points than one tree leaf, so splits fall on lattice lines; shuffled
    // ids, so a pair's smaller id lies on either side of a split
    val ids = new scala.util.Random(5).shuffle((0 until 400).toList)
    val lattice2 = ids.zipWithIndex.map { case (id, i) =>
      (id.toLong: Any, (i % 20) * 2.0: Any, (i / 20) * 2.0: Any) }
    val lattice01 = (0 until 144).map(i => (i.toLong: Any, (i % 12) * 0.1: Any, (i / 12) * 0.1: Any))
    // null ids and coordinates, NaN and infinite coordinates, a 3-4-5 pair
    // at exactly radius 5
    val odd: Seq[(Any, Any, Any)] = (0 until 80).map(i =>
      (i.toLong: Any, rng.nextDouble() * 12: Any, rng.nextDouble() * 12: Any)) ++ Seq(
      (100L, 0.0, 0.0), (101L, 3.0, 4.0), (null, 1.0, 1.0), (102L, null, 2.0), (103L, 2.0, null),
      (104L, Double.NaN, 1.0), (105L, 1.0, Double.NaN), (106L, Double.NaN, Double.NaN),
      (107L, Double.PositiveInfinity, 1.0), (108L, Double.NegativeInfinity, 5.0),
      (109L, -0.0, 0.0))
    // an id held by several points, near and far from each other
    val repeated = (0 until 120).map(i => ((i % 40).toLong: Any, rng.nextDouble() * 15: Any,
      rng.nextDouble() * 15: Any)) ++ Seq((200L, 1.0, 1.0), (200L, 1.0, 1.0), (201L, 1.0, 1.0))
    Seq("uniform" -> uniform, "clustered" -> clustered, "lattice at radius 2" -> lattice2,
      "lattice at radius 0.1" -> lattice01, "nulls, NaN, infinities" -> odd,
      "repeated ids" -> repeated)
  }

  test("knnJoin: broadcast and shuffle paths give the same rows") {
    for ((name, rows) <- pointCases; k <- Seq(1, 4)) {
      val got = samePaths(s"$name, k = $k", uses(_, classOf[graft.functions.KnnProbe]))(
        Knn.knnJoin(spark, pointFrame(rows), "id", "x", "y", k))
      assert(got.nonEmpty, name)
    }
  }

  test("knnJoin: the point count picks the path, whatever Spark's size estimate") {
    val rows = pointCases.head._2 // 300 points
    val schema = pointFrame(Nil).schema
    // no estimate (Long.MaxValue) and a join's product of both sides
    val rdd = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, x, y) => Row(id, x, y) }, 3), schema)
    val joined = pointFrame(rows).join(pointFrame(rows).select(col("id").as("j")),
      col("id") === col("j")).drop("j")
    def estimate(df: DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val probe = uses(_: DataFrame, classOf[graft.functions.KnnProbe])
    for ((name, df) <- Seq("RDD-backed" -> rdd, "join-derived" -> joined)) {
      assert(estimate(df) > 10L * 1024 * 1024, s"$name: estimate ${estimate(df)}")
      samePaths(name, probe)(Knn.knnJoin(spark, df, "id", "x", "y", 3))
      // n * 24 bytes against the threshold: 300 points fit 7 200, not 7 199
      withBroadcastThreshold("7200")(assert(probe(Knn.knnJoin(spark, df, "id", "x", "y", 3)), name))
      withBroadcastThreshold("7199")(assert(!probe(Knn.knnJoin(spark, df, "id", "x", "y", 3)), name))
    }
    // the same bound when the estimate fits
    withBroadcastThreshold("7200")(assert(probe(Knn.knnJoin(spark, pointFrame(rows), "id", "x", "y", 3))))
    withBroadcastThreshold("7199")(assert(!probe(Knn.knnJoin(spark, pointFrame(rows), "id", "x", "y", 3))))
  }

  test("distanceJoin: broadcast and shuffle paths give the same rows, pairs at the radius kept") {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
    // a negative radius keeps the pairs within its square on both paths
    val got = (for ((name, rows) <- pointCases; radius <- Seq(0.1, 2.0, 5.0, -2.0)) yield {
      val got = samePaths(s"$name, radius $radius", uses(_, classOf[graft.functions.RadiusProbe]))(
        Knn.distanceJoin(spark, pointFrame(rows), "id", "x", "y", radius))
      // by definition: every pair of points with a_id < b_id and
      // dist2 <= radius^2 under Spark's double order
      val pts = rows.collect { case (id: Long, x: Double, y: Double) => (id, x, y) }
      val want = (for {
        (a, ax, ay) <- pts; (b, bx, by) <- pts if a < b
        d = (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
        if SQLOrderingUtil.compareDoubles(d, radius * radius) <= 0
      } yield rowBits(Row(a, b, d))).sorted
      assert(got == want, s"$name, radius $radius: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
      (name, radius) -> got
    }).toMap
    assert(got(("nulls, NaN, infinities", 5.0)).contains(rowBits(Row(100L, 101L, 25.0))),
      "the 3-4-5 pair at exactly the radius")
    assert(got(("lattice at radius 2", 2.0)).size == 2 * 19 * 20,
      "every lattice neighbour pair at exactly the radius")
  }

  test("dissolve: driver and shuffle paths give the same rows; a null ring adds no edge") {
    def sq(x: Double, y: Double): Seq[Double] = Seq(x, y, x + 1, y, x + 1, y + 1, x, y + 1, x, y)
    def frame(groupType: DataType, rows: Seq[(Any, Seq[Double])]): DataFrame =
      spark.createDataFrame(rows.map { case (g, r) => Row(g, r) }.asJava, StructType(Seq(
        StructField("g", groupType), StructField("ring", ArrayType(DoubleType)))))
    val block = Seq((0, 0), (1, 0), (0, 1), (1, 1)).map { case (x, y) => ("block": Any, sq(x, y)) }
    val donut = (for (x <- 0 to 2; y <- 0 to 2 if !(x == 1 && y == 1))
      yield ("donut": Any, sq(x + 10, y)))
    val several = block ++ donut ++ Seq(("block", null), ("lone", sq(5, 5)), (null, sq(7, 7)),
      (null, sq(8, 7)), ("empty", null), ("block", sq(0, 2)))
    val rows = samePaths("several groups", !_.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]))(
      Dissolve.dissolve(spark, frame(StringType, several), "g", "ring"))
    assert(rows == Seq("(block, 6, 10, 1)", "(donut, 8, 16, 2)", "(empty, 1, 0, 0)",
      "(lone, 1, 4, 1)", "(null, 2, 6, 1)"), rows)
    // floating-point keys group as groupBy groups them: -0.0 with 0.0, NaN
    // with NaN
    val floats = Seq((0.0, sq(0, 0)), (-0.0, sq(1, 0)), (Double.NaN, sq(0, 0)),
      (Double.NaN, sq(0, 1)), (1.5, null))
    assert(samePaths("double keys", !_.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]))(
      Dissolve.dissolve(spark, frame(DoubleType, floats), "g", "ring")).size == 3)
  }

  // ------------------------------------------------------------- multimodal

  test("image decode round-trip: png exact, jpeg PSNR >= 40dB") {
    for (i <- 0L until 30L) {
      val r = Images.row(i)
      val (w, h, px) = Images.decode(r.bytes)
      assert(w == r.w && h == r.h)
      val ref = Images.render(i, r.w, r.h)
      val refPx = new Array[Int](w * h)
      ref.getRGB(0, 0, w, h, refPx, 0, w)
      val p = Images.psnr(px, refPx)
      if (r.fmt == "png") assert(p.isPosInfinity, s"png $i not lossless")
      else assert(p >= 40.0, s"jpeg $i psnr=$p")
    }
  }

  test("phash location round-trip lands in the right cell") {
    for (i <- 0L until 100L) {
      val ph = Images.phashFor(i)
      val (x, y) = Images.lonLat(ph)
      assert(x >= 0 && x < 100 && y >= 0 && y < 100)
    }
  }

  test("tileAssign emits tileGrid^2 tiles per image without reading bytes") {
    val imgs = Images.generate(spark, 10).toDF()
    val tiles = Tiling.tileAssign(spark, imgs, tileGrid = 3, res = 9)
    assert(tiles.count() == 90)
    // plan must not reference the binary payload column
    val plan = tiles.queryExecution.optimizedPlan.toString
    assert(!plan.contains("bytes"), "tile assignment must not read image payloads")
  }

  test("tileAssignAt with a layer equals the per-tile pip_first_key formula") {
    val side = Tiling.FootprintSide
    val rng = new SplitMix64(5)
    for (layer <- Seq(Synthetic.polygonLayer(64, seed = 42L), Synthetic.oracleLayer)) {
      // footprints centred on ring vertices and segment midpoints straddle
      // polygon edges, and so do those with a vertex between the last two
      // tile centres or off-centre; random ones mostly do not
      val onBoundary = (0 until layer.numRings).flatMap { r =>
        val i = layer.ringStart(r)
        Seq((layer.xx(i), layer.yy(i)),
          ((layer.xx(i) + layer.xx(i + 1)) / 2, (layer.yy(i) + layer.yy(i + 1)) / 2),
          (layer.xx(i) - side / 4, layer.yy(i) - side / 4),
          (layer.xx(i) + side * 0.3, layer.yy(i) - side * 0.2))
      }
      val random = (0 until 300).map(_ => (rng.nextDouble() * 100, rng.nextDouble() * 100))
      // footprints whose first and last tile centres straddle a res-9 cell
      // edge (a multiple of 0.703125) in x, in y and in both, footprints with
      // a tile centre exactly on an edge, negative coordinates and
      // coordinates past 2^28 cells, where encoded ids wrap
      val cs = graft.cell.CellIndex.cellSize(9)
      val edges = Seq(3L, 140L, -1L, -57L, (1L << 28) + 5, 1L << 29).map(_ * cs)
      val straddle = edges.flatMap(e => Seq((e, 50.3), (50.3, e), (e, e), (e + 0.01, e - 0.015)))
      // the footprint centre that puts tile centre t exactly on e, if one exists
      def centredOn(e: Double, t: Int): Option[Double] = {
        val off = (t + 0.5) * (side / 4)
        val guess = e - off + side / 2
        (0 to 16).flatMap(k => Seq(guess + k * math.ulp(guess), guess - k * math.ulp(guess)))
          .find(x => (x - side / 2) + off == e)
      }
      val onEdge = edges.flatMap(e => Seq(
        centredOn(e, 0).map(x => (x, 50.3)), centredOn(e, 3).map(y => (50.3, y)),
        for (x <- centredOn(e, 1); y <- centredOn(e, 2)) yield (x, y))).flatten
      assert(onEdge.size >= edges.size)
      val (inf, nan) = (Double.PositiveInfinity, Double.NaN)
      val extreme = Seq((inf, 5.0), (-inf, 5.0), (5.0, inf), (-inf, inf), (nan, nan), (5.0, nan))
      val pts = (onBoundary ++ random ++ straddle ++ onEdge ++ extreme)
        .map { case (x, y) => (Option(x), Option(y)) } ++
        Seq((None, Some(5.0)), (Some(5.0), None), (None, None), (Some(Double.NaN), Some(5.0)))
      val imgs = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("image_id", "x", "y").repartition(3)
      val got = Tiling.tileAssignAt(spark, imgs, "x", "y", 4, 9, Some(layer))
      // the assignment before the batched probe: one pip_first_key per tile
      val bc = graft.index.LayerBroadcasts.of(spark, layer)
      val want = imgs
        .withColumn("_x0", col("x") - side / 2)
        .withColumn("_y0", col("y") - side / 2)
        .withColumn("_t", explode(sequence(lit(0), lit(15))))
        .withColumn("tile_x", (col("_t") % 4).cast("int"))
        .withColumn("tile_y", (col("_t") / 4).cast("int"))
        .withColumn("cx", col("_x0") + (col("tile_x") + 0.5) * (side / 4))
        .withColumn("cy", col("_y0") + (col("tile_y") + 0.5) * (side / 4))
        .withColumn("cell_id", graft.functions.SpatialExprs.cellIdCol(col("cx"), col("cy"), 9))
        .withColumn("poly_key", graft.functions.SpatialExprs.pipFirstKey(col("cx"), col("cy"), bc))
      val cols = Seq("image_id", "tile_x", "tile_y", "cx", "cy", "cell_id", "poly_key")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.map(col): _*).collect().sortBy(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
      val (g, w) = (rows(got), rows(want))
      assert(g.size == pts.size * 16 && w.size == g.size)
      val diff = g.zip(w).find { case (a, b) => a != b }
      assert(diff.isEmpty, s"first differing (got, want): $diff")
      // rows with a null x or y keep their 16 tiles and get a null key
      assert(g.count(_.isNullAt(6)) == 3 * 16)
      assert(g.exists(r => !r.isNullAt(6) && r.getLong(6) >= 0))
    }
  }

  test("rasterStage: decode -> blur -> resample is deterministic and sane") {
    val imgs = Images.generate(spark, 20).toDF()
    val a = Multimodal.rasterStage(spark, imgs).orderBy("image_id").collect()
    val b = Multimodal.rasterStage(spark, imgs.repartition(7)).orderBy("image_id").collect()
    assert(a.sameElements(b)) // partition-invariant
    a.foreach { r =>
      val mean = r.getLong(3)
      assert(mean > 0 && mean < 255000, s"mean_luma_q=$mean")
    }
  }

  test("multimodal features: deterministic ahash, sane means") {
    val imgs = Images.generate(spark, 20).toDF()
    val f1 = Multimodal.features(spark, imgs).collect().sortBy(_.image_id)
    val f2 = Multimodal.features(spark, imgs).collect().sortBy(_.image_id)
    assert(f1.map(_.ahash).toSeq == f2.map(_.ahash).toSeq)
    assert(f1.forall(r => r.mean_r >= 0 && r.mean_r <= 255))
    assert(f1.forall(_.luma_hist.sum > 0))
  }

  test("augmentation: center-crop square + flip is pixel-exact through the PNG codec") {
    val imgs = Images.generate(spark, 12).toDF().filter(org.apache.spark.sql.functions.col("fmt") === "png")
    val rows = Multimodal.withAugmented(imgs)
      .select("image_id", "bytes", "aug", "w", "h").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w0, h0, src) = Images.decode(r.getAs[Array[Byte]]("bytes"))
      val (wa, ha, aug) = Images.decode(r.getAs[Array[Byte]]("aug"))
      val side = math.min(w0, h0)
      assert(wa == side && ha == side)
      val x0 = (w0 - side) / 2; val y0 = (h0 - side) / 2
      val flip = {
        // detect: either orientation must match the source crop EXACTLY (PNG lossless)
        def matches(f: Boolean): Boolean = (0 until side).forall { y =>
          (0 until side).forall { x =>
            val sx = if (f) x0 + side - 1 - x else x0 + x
            (aug(y * side + x) & 0xffffff) == (src((y0 + y) * w0 + sx) & 0xffffff)
          }
        }
        matches(false) || matches(true)
      }
      assert(flip, s"augmented pixels diverge for ${r.getString(0)}")
    }
  }

  // -------------------------------------------------------------- lifecycle

  test("operators that reuse an intermediate leave no CacheManager entry") {
    // each reuses an intermediate that its lazy result still reads: a cache
    // entry for it could never be released and would outlive the call
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    spark.catalog.clearCache()
    val rng = new SplitMix64(31)
    val rings = (0 until 8).map { i =>
      (i.toLong, if (i < 4) 0.0 else 1.0, Synthetic.blobRing(50, 50, 20, 64, rng))
    }.toDF("id", "w", "ring")
    def sq(x: Double, y: Double): Array[Double] =
      Array(x, y, x + 10, y, x + 10, y + 10, x, y + 10, x, y)
    val shapes = Seq((1L, sq(0, 0)), (2L, sq(8, 0)), (3L, sq(50, 50))).toDF("id", "ring")
    val pts = (0 until 300).map(i => (i.toLong, rng.nextDouble() * 100, rng.nextDouble() * 100))
      .toDF("id", "x", "y")
    val vecs = (0 until 60).map(i => (i.toLong, Seq.fill(8)(rng.nextDouble().toFloat)))
      .toDF("id", "vec")
    val docs = (0 until 40).map(i => (i.toLong, Seq.fill(6)(s"w${rng.nextInt(5)}").mkString(" ")))
      .toDF("id", "t")
    Seq[(String, () => DataFrame)](
      "simplify" -> (() => SimplifyOp.simplify(spark, rings, "ring", pct = 0.3)),
      "simplifyVariable" ->
        (() => SimplifyOp.simplifyVariable(spark, rings, "ring", "w", pct = 0.3)),
      "simplifySpherical" -> (() => SimplifyOp.simplifySpherical(spark, rings, "ring", pct = 0.3)),
      "dissolve2Distributed" -> (() => OverlayOp.dissolve2Distributed(spark, shapes, "id", "ring")),
      "byCount" -> (() => Subdivide.byCount(spark, pts, "x", "y", maxPerLeaf = 50)._1),
      "ivfTopK" -> (() => Ann.ivfTopK(spark, vecs, "id", "vec", 3, nlist = 4, nprobe = 2)),
      "knnJoin, shuffle path" -> (() => withBroadcastThreshold("-1")(
        Knn.knnJoin(spark, pts, "id", "x", "y", 3, bruteForceBudget = 0L))),
      "lshTopK" -> (() => Ann.lshTopK(spark, vecs, "id", "vec", 3, planes = 4)),
      "lshTopK, shuffle path" -> (() => withBroadcastThreshold("-1")(
        Ann.lshTopK(spark, vecs, "id", "vec", 3, planes = 4))),
      "minhashPairs" -> (() => Dedup.minhashPairs(spark, docs, "id", "t", threshold = 0.1)),
      "minhashPairs, shuffle path" -> (() => withBroadcastThreshold("-1")(
        Dedup.minhashPairs(spark, docs, "id", "t", threshold = 0.1)))
    ).foreach { case (op, run) =>
      assert(run().collect().nonEmpty, op)
      assert(cacheManager.isEmpty, s"$op left a CacheManager entry")
    }
  }
}
