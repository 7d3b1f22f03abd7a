package graft

import org.apache.spark.sql.functions._

import graft.index.PolygonLayer
import graft.operators.SpatialJoin
import graft.tables.{SplitMix64, Synthetic}

/**
 * Explicit hot-cell salting (north rule): the cell-partitioned spatial join
 * must split skewed cells across salted subkeys — replicating the matching
 * polygon candidates — without changing results.
 */
class SkewSpec extends SparkSuite {

  import spark.implicits._

  test("cellJoin with forced salting matches unsalted results on skewed points") {
    val layer = Synthetic.polygonLayer(9, seed = 13L, holeEvery = 0)

    // heavy skew: 80% of points in one tiny hot spot
    val rng = new SplitMix64(3)
    val pts = (0 until 1000).map { i =>
      if (i % 5 != 0) (i.toLong, 50.0 + rng.nextDouble(), 50.0 + rng.nextDouble())
      else (i.toLong, rng.nextDouble() * 100, rng.nextDouble() * 100)
    }
    val df = pts.toDF("id", "x", "y")

    // saltThreshold=0 forces EVERY cell through the salted path
    val salted = SpatialJoin.cellJoin(spark, df, "x", "y", layer, res = 5,
        saltThreshold = 0, saltFactor = 4)
      .select("id", "poly_key").as[(Long, Long)].collect().toSet
    val unsalted = SpatialJoin.cellJoin(spark, df, "x", "y", layer, res = 5,
        saltThreshold = Int.MaxValue)
      .select("id", "poly_key").as[(Long, Long)].collect().toSet
    assert(salted == unsalted && salted.nonEmpty)

    // and both match the broadcast reference
    val broadcasted = SpatialJoin.broadcastJoin(spark, df, "x", "y", layer)
      .select("id", "poly_key").as[(Long, Long)].collect().toSet
    assert(salted == broadcasted)
  }

  test("cellJoin applies even-odd hole semantics (parity with broadcast path)") {
    // square with a centered hole; points: inside-solid, inside-hole, outside
    val layer = PolygonLayer.fromShapes(Seq(7L -> Seq(
      Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0, 0.0, 0.0),
      Array(4.0, 4.0, 6.0, 4.0, 6.0, 6.0, 4.0, 6.0, 4.0, 4.0))))
    val pts = Seq((1L, 2.0, 2.0), (2L, 5.0, 5.0), (3L, 20.0, 20.0),
      (4L, 4.0, 5.0) /* on hole boundary = boundary of the shape -> in */)
      .toDF("id", "x", "y")
    val got = SpatialJoin.cellJoin(spark, pts, "x", "y", layer, res = 4)
      .select("id", "poly_key").as[(Long, Long)].collect().toSet
    // point 2 sits in the hole: even parity, NOT a match
    assert(got == Set((1L, 7L), (4L, 7L)))
  }

  test("cellJoin joins a hot-cell point whose coordinate hash has the sign bit set") {
    // the low 32 bits of y are 0x80000000: a salt taken as `abs % f` of that
    // int is negative for f = 3 and then matches no ring row
    val y = 50.00001525878906
    assert(java.lang.Double.doubleToLongBits(y).toInt == Int.MinValue)
    val layer = PolygonLayer.fromShapes(Seq(
      9L -> Seq(Array(40.0, 40.0, 60.0, 40.0, 60.0, 60.0, 40.0, 60.0, 40.0, 40.0))))
    val pts = Seq((1L, 50.0, y)).toDF("id", "x", "y")
    val got = SpatialJoin.cellJoin(spark, pts, "x", "y", layer, res = 5,
        saltThreshold = 0, saltFactor = 3)
      .select("id", "poly_key").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 9L)))
  }

  // ------------------------------------------------- LSH degenerate buckets

  test("capBuckets drops over-full buckets and keeps the rest") {
    val banded = ((0 until 100).map(i => (i.toLong, 1L)) ++
      (100 until 105).map(i => (i.toLong, 2L))).toDF("id", "_bucket")
    val kept = graft.operators.Dedup.capBuckets(banded, "_bucket", maxBucket = 10)
      .select("id").as[Long].collect().toSet
    assert(kept == (100L until 105L).toSet)
    // cap disabled → everything passes
    assert(graft.operators.Dedup.capBuckets(banded, "_bucket", 0).count() == 105)
  }

  test("planted degenerate minhash bucket is capped; real near-dups survive") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods"
    val nearDup = base.replace("runs", "walks")
    // 2000 empty captions: every band of every doc hashes to one megabucket
    val degenerate = (1000 until 3000).map(i => (i.toLong, ""))
    val docs = (Seq((1L, base), (2L, nearDup)) ++ degenerate).toDF("id", "t")
    val pairs = graft.operators.Dedup
      .minhashPairs(spark, docs, "id", "t", threshold = 0.4, maxBucket = 50)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // without the cap this would be a ~2M-pair quadratic bucket join;
    // with it, the megabucket is dropped and the genuine pair remains
    assert(pairs == Set((1L, 2L)))
  }

  test("planted zero-vector megabucket is capped in lshTopK and embeddingPairs") {
    val rng = new SplitMix64(17)
    val normal = (0 until 50).map(i =>
      (i.toLong, Array.fill(8)(rng.nextDouble().toFloat - 0.5f).toSeq))
    val zeros = (1000 until 2000).map(i => (i.toLong, Seq.fill(8)(0.0f)))
    val vecs = (normal ++ zeros).toDF("vec_id", "embedding")

    val topk = graft.operators.Ann
      .lshTopK(spark, vecs, "vec_id", "embedding", k = 2, maxBucket = 60)
    val n = topk.count()
    // bounded: at most k rows per surviving query id, and the 1000-strong
    // zero bucket did not explode into ~10^6 candidate pairs
    assert(n > 0 && n <= 2 * 1050)

    val pairs = graft.operators.Dedup
      .embeddingPairs(spark, vecs, "vec_id", "embedding", 0.99, maxBucket = 60)
    assert(pairs.count() >= 0) // completes; megabucket dropped
  }
}
