package graft

import org.apache.spark.sql.functions._

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
    // single-ring (no holes) layer: cellJoin operates ring-per-row
    val layer = Synthetic.polygonLayer(9, seed = 13L, holeEvery = 0)
    val rings = (0 until layer.numRings).map { r =>
      val s = layer.ringStart(r); val e = layer.ringStart(r + 1)
      (layer.shapeKeys(layer.ringShape(r)),
        layer.xx.slice(s, e).toSeq, layer.yy.slice(s, e).toSeq)
    }
    val polyDf = rings.toDF("poly_key", "ring_x", "ring_y")
    val rng = new SplitMix64(88)
    val pts = (0 until 400).map(i => (i.toLong, rng.nextDouble() * 100, rng.nextDouble() * 100))
    val df = pts.toDF("id", "x", "y")
    val viaCells = SpatialJoin.cellJoin(spark, df, "x", "y", polyDf, res = 5)
      .select("id", "poly_key").as[(Long, Long)].collect().toSet
    val viaBroadcast = SpatialJoin.broadcastJoin(spark, df, "x", "y", layer)
      .select("id", "poly_key").as[(Long, Long)].collect().toSet
    assert(viaCells == viaBroadcast)
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

  private def withBroadcastThreshold[T](v: String)(f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

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
    for (v <- probes) {
      val ad = ArrayData.toArrayData(v)
      assert(HashKernels.nearestCentroid(ad, cents) == refNearest(v, cents))
      assert(HashKernels.centroidProbes(ad, cents, 4).toIntArray().toSeq ==
        refProbes(v, cents, 4))
      for (c <- cents)
        assert(java.lang.Double.doubleToLongBits(HashKernels.cosineVs(ad, c)) ==
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
}
