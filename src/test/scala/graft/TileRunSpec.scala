package graft

import java.nio.file.Files

import graft.streaming.TileRun
import graft.tables.{Images, Synthetic}

class TileRunSpec extends SparkSuite {

  test("tile run is checkpoint-resumable with consistent lineage") {
    val layer = Synthetic.polygonLayer(16, seed = 5L)
    val imgs = Images.generate(spark, 400).toDF().cache()
    val dir = Files.createTempDirectory("tilerun").toString

    // full reference run
    val refDir = Files.createTempDirectory("tilerun_ref").toString
    val full = TileRun.run(spark, imgs, layer, refDir, coarseRes = 2, fineRes = 8)
    assert(full.nonEmpty)

    // crashed run: stops after 2 groups
    val part1 = TileRun.run(spark, imgs, layer, dir, coarseRes = 2, fineRes = 8, failAfter = 2)
    assert(part1.size == 2)
    assert(TileRun.completedGroups(dir).size == 2)

    // resume: processes exactly the remaining groups, skips completed ones
    val part2 = TileRun.run(spark, imgs, layer, dir, coarseRes = 2, fineRes = 8)
    assert(part1.size + part2.size == full.size)
    assert(part1.map(_.group).toSet.intersect(part2.map(_.group).toSet).isEmpty)

    // lineage identical to the uninterrupted run (deterministic checksums)
    val refByGroup = full.map(m => m.group -> ((m.inputRows, m.outputRows, m.checksum))).toMap
    (part1 ++ part2).foreach { m =>
      assert(refByGroup(m.group) == ((m.inputRows, m.outputRows, m.checksum)), s"group ${m.group}")
    }

    // a second resume is a no-op
    assert(TileRun.run(spark, imgs, layer, dir, coarseRes = 2, fineRes = 8).isEmpty)

    // output data complete: same total rows as reference
    val a = spark.read.parquet(s"$dir/tiles").count()
    val b = spark.read.parquet(s"$refDir/tiles").count()
    assert(a == b && a == full.map(_.outputRows).sum)

    // write layout: a fresh run over a multi-partition input writes at most
    // one parquet file per group, not one per (input task, group)
    assert(imgs.rdd.getNumPartitions > 1)
    val groupDirs = new java.io.File(s"$refDir/tiles").listFiles().filter(_.getName.startsWith("g="))
    assert(groupDirs.nonEmpty)
    groupDirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files <= 1, s"${d.getName}: $files parquet files")
    }
  }

  test("rows with a null phash belong to no group: run and resume ignore them") {
    import org.apache.spark.sql.functions._
    val layer = Synthetic.polygonLayer(16, seed = 5L)
    val clean = Images.generate(spark, 50).toDF().cache()
    val nullId = clean.select(min("image_id")).head().getString(0)
    val withNull = clean
      .withColumn("phash", when(col("image_id") === nullId, lit(null)).otherwise(col("phash")))
    val without = clean.filter(col("image_id") =!= nullId)
    def byGroup(ms: Seq[TileRun.GroupManifest]) =
      ms.map(m => m.group -> ((m.inputRows, m.outputRows, m.checksum))).toMap

    val ref = byGroup(TileRun.run(spark, without, layer,
      Files.createTempDirectory("tilerun_nonull").toString, coarseRes = 2, fineRes = 8))
    assert(ref.size >= 2, s"want several groups, got ${ref.size}")
    assert(TileRun.planGroups(spark, withNull, 2).toSeq == ref.keys.toSeq.sorted)

    // a crashed run, then a resume, over the input with the null row
    val dir = Files.createTempDirectory("tilerun_null").toString
    val part1 = TileRun.run(spark, withNull, layer, dir, coarseRes = 2, fineRes = 8, failAfter = 1)
    val part2 = TileRun.run(spark, withNull, layer, dir, coarseRes = 2, fineRes = 8)
    assert(part1.size == 1 && part1.size + part2.size == ref.size)
    assert(byGroup(part1 ++ part2) == ref)
    assert(spark.read.parquet(s"$dir/tiles").filter(col("image_id") === nullId).isEmpty)
  }

  test("tile run executes O(1) Spark jobs regardless of group count") {
    // the round-1 shape was 3 jobs PER GROUP (full-table rescans); the
    // partitioned rewrite must stay constant: one input aggregation (groups
    // + input rows) + rebalanced write + output agg, however many cell
    // groups exist
    val layer = Synthetic.polygonLayer(16, seed = 5L)
    val imgs = Images.generate(spark, 600).toDF().cache()
    imgs.count()
    val dir = Files.createTempDirectory("tilerun_jobs").toString

    def countJobs(coarseRes: Int): (Int, Int) = {
      val d = Files.createTempDirectory(s"tilerun_jobs_$coarseRes").toString
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val manifests = TileRun.run(spark, imgs, layer, d, coarseRes = coarseRes, fineRes = 8)
        Thread.sleep(500) // let the listener bus drain
        (manifests.size, counter.get())
      } finally {
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    val (gFew, jFew) = countJobs(1)     // few coarse groups
    val (gMany, jMany) = countJobs(3)   // many coarse groups
    assert(gMany >= gFew * 2, s"want more groups at finer res: $gFew vs $gMany")
    // round-1 shape was 3 jobs per group; the partitioned rewrite must not
    // scale with group count (allow +-1 for AQE re-plans)
    assert(math.abs(jMany - jFew) <= 1,
      s"jobs must be group-count-invariant: $jFew jobs/$gFew groups vs $jMany jobs/$gMany groups")
    assert(jMany <= 6, s"absolute bound: $jMany")
  }

  test("manifest-pruned resume opens only the crashed shard's input files") {
    import org.apache.spark.sql.functions._
    val layer = Synthetic.polygonLayer(16, seed = 5L)
    // spatially-clustered input layout: order by the coarse group before
    // writing, so each parquet file covers a narrow group range (the layout
    // a production ingest would produce)
    val imgs0 = Images.generate(spark, 400).toDF()
      .withColumn("_g", graft.functions.GraftFunctions.cellId(
        graft.functions.GraftFunctions.phashLon(col("phash")),
        graft.functions.GraftFunctions.phashLat(col("phash")), 2))
      .orderBy("_g").drop("_g")
    val inDir = Files.createTempDirectory("tilerun_in").toString + "/images"
    imgs0.repartitionByRange(8, graft.functions.GraftFunctions.cellId(
      graft.functions.GraftFunctions.phashLon(col("phash")),
      graft.functions.GraftFunctions.phashLat(col("phash")), 2))
      .write.parquet(inDir)
    val imgs = spark.read.parquet(inDir)

    // derived-stats manifest: per-file min/max of the coarse group
    val mf = graft.tables.TableManifest.buildDerived(spark, inDir, "g",
      graft.functions.GraftFunctions.cellId(
        graft.functions.GraftFunctions.phashLon(col("phash")),
        graft.functions.GraftFunctions.phashLat(col("phash")), 2))
    val nFiles = mf.files.size
    assert(nFiles >= 4, s"want a multi-file layout, got $nFiles")

    // crash after 2 groups, then resume WITH the manifest
    val dir = Files.createTempDirectory("tilerun_pruned").toString
    val part1 = TileRun.run(spark, imgs, layer, dir, coarseRes = 2, fineRes = 8, failAfter = 2)
    val done = TileRun.completedGroups(dir)
    val todo = TileRun.planGroups(spark, imgs, 2).filterNot(done.contains)
    val cand = graft.tables.TableManifest.pruneFilesForValues(mf, "g", todo.toIndexedSeq)
    val part2 = TileRun.run(spark, imgs, layer, dir, coarseRes = 2, fineRes = 8,
      inputManifest = Some(mf))

    // pruning must actually skip files when only PART of the groups remain,
    // while the result matches an unpruned reference run exactly
    val refDir = Files.createTempDirectory("tilerun_pruned_ref").toString
    val full = TileRun.run(spark, imgs, layer, refDir, coarseRes = 2, fineRes = 8)
    val refByGroup = full.map(m => m.group -> ((m.inputRows, m.outputRows, m.checksum))).toMap
    (part1 ++ part2).foreach { m =>
      assert(refByGroup(m.group) == ((m.inputRows, m.outputRows, m.checksum)), s"group ${m.group}")
    }
    assert(part1.size + part2.size == full.size)
    // the clustered layout lets the resume skip at least the files that only
    // contain completed groups (strictly fewer than all files)
    assert(cand.size < nFiles, s"pruning skipped nothing: $nFiles files, ${cand.size} candidates")
  }
}
