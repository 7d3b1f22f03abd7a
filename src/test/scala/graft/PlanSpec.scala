package graft

import org.apache.spark.sql.functions._

import graft.operators.{SpatialJoin, Tiling}
import graft.tables.{Images, Synthetic}

/**
 * Plan-quality assertions: the claims "filters push down", "columns prune",
 * "hot path stays in whole-stage codegen", "payload bytes are never read by
 * spatial queries" are tested here, not just asserted in prose.
 */
class PlanSpec extends SparkSuite {

  private def imagesParquet: String =
    Images.ensureParquet(spark, "/root/repo/data", "plantest", 200)

  test("spatial pipeline scan prunes to narrow columns (no bytes/caption)") {
    val df = spark.read.parquet(imagesParquet)
      .select(col("image_id"), col("phash"))
      .withColumn("x", graft.functions.GraftFunctions.phashLon(col("phash")))
      .withColumn("y", graft.functions.GraftFunctions.phashLat(col("phash")))
    val joined = SpatialJoin.broadcastJoin(spark, df, "x", "y", Synthetic.oracleLayer)
    val scan = joined.queryExecution.executedPlan.toString
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("image_id") && readSchema.contains("phash"))
    assert(!readSchema.contains("bytes") && !readSchema.contains("caption"),
      s"payload columns must be pruned: $readSchema")
  }

  test("filter on parquet source is pushed down") {
    val df = spark.read.parquet(s"$Sf/lineitem.parquet")
      .filter(col("l_quantity") >= 30.0)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(l_quantity,30.0)"), plan.take(2000))
  }

  test("cell/PIP expressions run inside WholeStageCodegen") {
    val bc = spark.sparkContext.broadcast(Synthetic.oracleLayer)
    val df = spark.range(100)
      .withColumn("x", (col("id") % 100).cast("double"))
      .withColumn("y", (col("id") % 50).cast("double"))
      .withColumn("cell", graft.functions.SpatialExprs.cellIdCol(col("x"), col("y"), 8))
      .withColumn("pk", graft.functions.SpatialExprs.pipFirstKey(col("x"), col("y"), bc))
    // '*' node prefixes mark whole-stage-codegen spans; verify by node type too
    val hasWsc = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasWsc, df.queryExecution.executedPlan.toString.take(1000))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEval"), plan.take(1000))
    // sanity: results identical to the interpreted (non-codegen) path
    val got = df.select("id", "cell", "pk").collect()
    got.foreach { r =>
      val x = (r.getLong(0) % 100).toDouble
      val y = (r.getLong(0) % 50).toDouble
      assert(r.getLong(1) == graft.cell.CellIndex.cellId(x, y, 8))
      assert(r.getLong(2) == Synthetic.oracleLayer.findFirstKey(x, y))
    }
  }

  test("q_knn on the broadcast path: KD-tree probe in codegen, no window, cross join or UDF") {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Aqe extends AdaptiveSparkPlanHelper
    val df = SparkEntry.queries("q_knn")(spark, Sf)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan // final adaptive plan after the action
    val nodes = Aqe.collect(plan) { case p => p }
    val names = nodes.map(_.nodeName)
    assert(!names.exists(n => n.contains("Window") || n.contains("BroadcastNestedLoopJoin") ||
      n.contains("CartesianProduct")), names.mkString(", "))
    assert(!nodes.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))), plan.toString)
    def isProbe(p: SparkPlan): Boolean =
      p.expressions.exists(_.exists(_.isInstanceOf[graft.functions.KnnProbe]))
    def stage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case _ => p.children.flatMap(stage)
    })
    assert(nodes.exists(isProbe), plan.toString)
    val inCodegen = Aqe.collect(plan) { case w: WholeStageCodegenExec => w }
      .exists(w => stage(w.child).exists(isProbe))
    assert(inCodegen, s"knn_probe must run inside WholeStageCodegen:\n$plan")
  }

  test("tile assignment plan never references the binary payload") {
    val imgs = spark.read.parquet(imagesParquet)
    val tiles = Tiling.tileAssign(spark, imgs, tileGrid = 2, res = 9, Some(Synthetic.oracleLayer))
    // the physical scan must not materialize the payload column
    val readSchema = tiles.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("bytes"), readSchema)
  }

  test("CRS forward expressions run inside WholeStageCodegen, scan prunes") {
    val df = spark.read.parquet(s"$Sf/customer.parquet")
      .select(col("c_custkey"))
      .withColumn("lon", (col("c_custkey") % 360).cast("double") - 180.0)
      .withColumn("lat", (col("c_custkey") % 170).cast("double") - 85.0)
      .withColumn("aea", graft.functions.SpatialExprs.crsForward(
        col("lon"), col("lat"), graft.geom.Crs.Albers(29.5, 45.5, 23.0, -96.0)))
      .withColumn("utm", graft.functions.SpatialExprs.utmForward(col("lon"), col("lat")))
    val hasWsc = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasWsc)
    val readSchema = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("c_custkey") && !readSchema.contains("c_name"), readSchema)
    // codegen result == scalar kernel
    val r = df.limit(5).collect()
    r.foreach { row =>
      val lon = row.getDouble(1); val lat = row.getDouble(2)
      val (x, y) = graft.geom.Crs.Albers(29.5, 45.5, 23.0, -96.0).forward(lon, lat)
      assert(row.getSeq[Double](3) == Seq(x, y))
    }
  }

  test("distributed polygon-overlap join broadcasts the small side (no cartesian)") {
    import spark.implicits._
    def sq(x: Double, y: Double): Array[Double] =
      Array(x, y, x + 5, y, x + 5, y + 5, x, y + 5, x, y)
    val targets = (0 until 50).map(i => (i.toLong, sq(i % 10 * 4.0, i / 10 * 4.0))).toDF("key", "ring")
    val sources = (0 until 3).map(i => (100L + i, sq(i * 8.0, i * 8.0))).toDF("key", "ring")
    val df = graft.operators.PolyJoin.overlapDistributed(spark, targets, sources)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(1500))
  }

  test("broadcast PIP join produces no shuffle of the point side") {
    val df = spark.range(1000)
      .withColumn("x", (col("id") % 100).cast("double"))
      .withColumn("y", (col("id") % 50).cast("double"))
    val joined = SpatialJoin.broadcastJoin(spark, df, "x", "y", Synthetic.oracleLayer)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"broadcast PIP join must be shuffle-free:\n${plan.take(1500)}")
  }

  /** Every shuffle's output attribute names in the executed plan. */
  private def exchangeOutputs(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.output.map(_.name).toSeq
    }

  test("lshTopK probe shuffle is id-only: no exchange carries vectors with buckets") {
    import spark.implicits._
    val rng = new graft.tables.SplitMix64(3)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(16)(rng.nextDouble().toFloat).toSeq)).toDF("vec_id", "embedding")
    val df = graft.operators.Ann.lshTopK(spark, vecs, "vec_id", "embedding", k = 3)
    val bad = exchangeOutputs(df).filter(out =>
      out.exists(_.contains("_bucket")) && out.exists(n => n == "vec" || n == "nvec" || n == "embedding"))
    assert(bad.isEmpty, s"vector bytes rode a bucket shuffle: $bad")
  }

  test("minhash band shuffle is id-only: no exchange carries text with buckets") {
    import spark.implicits._
    val docs = (0 until 100).map(i => (i.toLong, s"some words here $i repeated tokens " * 5))
      .toDF("doc_id", "text")
    val df = graft.operators.Dedup.minhashPairs(spark, docs, "doc_id", "text", threshold = 0.3)
    val bad = exchangeOutputs(df).filter(out =>
      out.exists(_.contains("_bucket")) && out.exists(_.contains("text")))
    assert(bad.isEmpty, s"document text rode a band shuffle: $bad")
  }

  test("minhash signature chain is materialized once (no UDF recompute fan-out)") {
    import spark.implicits._
    val docs = (0 until 100).map(i => (i.toLong, s"body words $i tok " * 6))
      .toDF("doc_id", "text")
    val df = graft.operators.Dedup.minhashPairs(spark, docs, "doc_id", "text", threshold = 0.3)
    val plan = df.queryExecution.executedPlan.toString
    // the banded (id, bucket) projection is a checkpointed RDD scan, so the
    // sig/band UDF chain is OUT of the final plan entirely — only the jaccard
    // verifier UDF remains
    assert(plan.contains("ExistingRDD"), "banded projection should be a checkpoint scan")
    // r6: signature/banding AND the jaccard verifier are codegen expressions
    // — no boxed ScalaUDF anywhere on the minhash path
    val udfCount = "(?i)scalaudf".r.findAllIn(plan).size
    assert(udfCount == 0, s"expected no ScalaUDF, got $udfCount:\n${plan.take(1500)}")
  }

  test("lshTopK signature projection is materialized once, no ScalaUDF") {
    import spark.implicits._
    val rng = new graft.tables.SplitMix64(5)
    val vecs = (0 until 150).map(i =>
      (i.toLong, Array.fill(16)(rng.nextDouble().toFloat).toSeq)).toDF("vec_id", "embedding")
    val df = graft.operators.Ann.lshTopK(spark, vecs, "vec_id", "embedding", k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), "sig projection should be a checkpoint scan")
    // r6: signature/probe/cosine kernels are codegen expressions
    assert("(?i)scalaudf".r.findAllIn(plan).isEmpty, "expected no ScalaUDF on the LSH path")
  }

  test("ivfTopK final plan has no ScalaUDF (codegen argmax/probe/cosine)") {
    import spark.implicits._
    val rng = new graft.tables.SplitMix64(13)
    val vecs = (0 until 150).map(i =>
      (i.toLong, Array.fill(16)(rng.nextDouble().toFloat).toSeq)).toDF("vec_id", "embedding")
    val df = graft.operators.Ann.ivfTopK(spark, vecs, "vec_id", "embedding", k = 3,
      nlist = 8, nprobe = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert("(?i)scalaudf".r.findAllIn(plan).isEmpty, "expected no ScalaUDF on the IVF path")
  }

  test("exact dedup: no exchange carries the text column (128-bit key decision)") {
    import spark.implicits._
    val docs = (0 until 100).map(i => (i.toLong, s"document body $i " * 10))
      .toDF("doc_id", "text")
    val df = graft.operators.Dedup.exact(docs, "doc_id", "text")
    val bad = exchangeOutputs(df).filter(_.exists(_.contains("text")))
    assert(bad.isEmpty, s"corpus text rode a dedup shuffle: $bad")
    // and the removal list is broadcast (corpus side never shuffles at all
    // beyond the (id, h1, h2, len) projection)
    val exch = exchangeOutputs(df)
    assert(exch.forall(out => out.forall(n =>
      n.startsWith("_e") || n.startsWith("_h") || n.startsWith("_len") || n.startsWith("_keep"))),
      s"unexpected exchange columns: $exch")
  }

  test("embeddingPairs probe shuffle is id-only") {
    import spark.implicits._
    val rng = new graft.tables.SplitMix64(9)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(16)(rng.nextDouble().toFloat).toSeq)).toDF("vec_id", "embedding")
    val df = graft.operators.Dedup.embeddingPairs(spark, vecs, "vec_id", "embedding", 0.9)
    val bad = exchangeOutputs(df).filter(out =>
      out.exists(_.contains("_bucket")) && out.exists(n => n == "v" || n == "embedding"))
    assert(bad.isEmpty, s"vector bytes rode a bucket shuffle: $bad")
  }

  test("-lines edge classification is UDF-free; only edge coords + small attrs shuffle") {
    import spark.implicits._
    val polys = (0 until 50).map { i =>
      (i.toLong, s"g${i % 3}",
        Seq(i * 2.0, 0.0, i * 2.0 + 2, 0.0, i * 2.0 + 2, 2.0, i * 2.0, 2.0, i * 2.0, 0.0))
    }.toDF("key", "g", "ring")
    val out = graft.operators.Lines.polygonsToLines(polys, "key", "ring", Seq("g"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf") && !plan.contains("BatchEval"),
      "-lines should be pure built-in expressions")
    // the shuffle carries only edge coords + (key, g) structs — never rings
    val bad = exchangeOutputs(out).filter(_.exists(_.contains("ring")))
    assert(bad.isEmpty, s"ring arrays rode the -lines shuffle: $bad")
  }

  test("-check-geometry pair tests are UDF-free codegen column arithmetic") {
    import spark.implicits._
    val segs = (0 until 40).map(i =>
      (i.toLong, i * 1.0, 0.0, i * 1.0 + 3, 3.0)).toDF("sid", "x1", "y1", "x2", "y2")
    val pairs = graft.operators.CheckGeometry.intersectingPairs(segs, "sid", 2.0)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf") && !plan.contains("BatchEval"))
  }

  test("polygon-side ring cover/bbox are codegen expressions, not Scala UDFs") {
    import spark.implicits._
    val rings = (0 until 20).map { i =>
      (i.toLong, Seq(i * 10.0, 0.0, i * 10.0 + 5, 0.0, i * 10.0 + 5, 5.0, i * 10.0, 5.0, i * 10.0, 0.0))
    }.toDF("key", "ring")
    val pairs = graft.operators.PolyJoin.candidatePairs(spark, rings, rings, cellRes = 5)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("ring_cover"), plan.take(800))
    assert(!plan.toLowerCase.contains("scalaudf") && !plan.contains("BatchEval"),
      "boxed UDF survives on the polygon side")
  }
}
