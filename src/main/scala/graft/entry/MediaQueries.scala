package graft
package entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.DataRoot
import graft.entry.Fixtures._
import graft.entry.Query.query
import graft.functions.GraftFunctions._
import graft.operators._
import graft.tables.{Images, Synthetic}

/**
 * Media tables: image, audio and video rows with binary payloads (the
 * north-rule operators).
 */
private[graft] object MediaQueries {

  /** Shared SQL prefix re-synthesizing PNG pixels from the generator formula
   * (SplitMix64 state=seed+k·GAMMA jumps, 32-bit-limb wrap-multiplies):
   * yields CTEs `img(image_id, w, h, i)` and `px(image_id, w, h, x, y, g)`.
   * Used by the q_img_ahash and q_img_augment oracles. */
  private def imgPxPrefix(idLimit: Int): String =
    s"""img AS (SELECT image_id, w, h, CAST(substr(image_id, 4, 12) AS BIGINT) AS i
       |  FROM read_parquet('$DataRoot/images_sf0.01.parquet/*.parquet')
       |  WHERE fmt = 'png' AND CAST(substr(image_id, 4, 12) AS BIGINT) < $idLimit),
       |ns AS (SELECT n FROM generate_series(0, 1088) t(n)),
       |pxn AS (SELECT image_id, i, w, h, n FROM img JOIN ns ON ns.n < img.w * img.h),
       |st AS (SELECT image_id, w, h, n,
       |  CAST((CAST(i AS HUGEINT) + CAST(n + 1 AS HUGEINT) * 11400714819323198485)
       |    % 18446744073709551616 AS UBIGINT) AS z0 FROM pxn),
       |x1s AS (SELECT image_id, w, h, n, xor(z0, z0 >> 30) AS a1 FROM st),
       |l1 AS (SELECT image_id, w, h, n, a1 >> 32 AS ahi, a1 & 4294967295 AS alo FROM x1s),
       |z1s AS (SELECT image_id, w, h, n,
       |  CAST((CAST(alo * 484763065 AS HUGEINT) +
       |    CAST((alo * 3210233709) % 4294967296 + (ahi * 484763065) % 4294967296 AS HUGEINT)
       |      % 4294967296 * 4294967296) % 18446744073709551616 AS UBIGINT) AS z1
       |  FROM l1),
       |x2s AS (SELECT image_id, w, h, n, xor(z1, z1 >> 27) AS a2 FROM z1s),
       |l2 AS (SELECT image_id, w, h, n, a2 >> 32 AS ahi, a2 & 4294967295 AS alo FROM x2s),
       |z2s AS (SELECT image_id, w, h, n,
       |  CAST((CAST(alo * 321982955 AS HUGEINT) +
       |    CAST((alo * 2496678331) % 4294967296 + (ahi * 321982955) % 4294967296 AS HUGEINT)
       |      % 4294967296 * 4294967296) % 18446744073709551616 AS UBIGINT) AS z2
       |  FROM l2),
       |px AS (SELECT image_id, w, h, n % w AS x, n // w AS y,
       |  (((n % w) * 160) // w + ((n // w) * 80) // h
       |    + CAST((xor(z2, z2 >> 31) >> 1) % 4 AS BIGINT)) & 255 AS g
       |  FROM z2s)""".stripMargin

  /** Shared audio sample CTE chain: PCM16 values re-synthesized from the
   * generator formula (`Audio.sampleAt`: SplitMix64 finalizer over
   * i·(2³²+1)+n, via the same HUGEINT 32-bit-limb wrap-multiplies as the
   * image chain). Exposes `aud(audio_id, n_samples)` and
   * `smp(audio_id, n_samples, n, v)`. */
  private def audioSmpCtes(idLimit: Int): String =
    s"""aud AS (SELECT audio_id, n_samples, CAST(substr(audio_id, 4, 12) AS BIGINT) AS i
       |  FROM read_parquet('$DataRoot/audio_sf0.01.parquet/*.parquet')
       |  WHERE CAST(substr(audio_id, 4, 12) AS BIGINT) < $idLimit),
       |ns AS (SELECT n FROM generate_series(0, 1198) t(n)),
       |sn AS (SELECT audio_id, i, n_samples, n FROM aud JOIN ns ON ns.n < aud.n_samples),
       |st AS (SELECT audio_id, n_samples, n,
       |  CAST((CAST(i AS HUGEINT) * 4294967297 + n + CAST('11400714819323198485' AS HUGEINT))
       |    % 18446744073709551616 AS UBIGINT) AS z0 FROM sn),
       |x1s AS (SELECT audio_id, n_samples, n, xor(z0, z0 >> 30) AS a1 FROM st),
       |l1 AS (SELECT audio_id, n_samples, n, a1 >> 32 AS ahi, a1 & 4294967295 AS alo FROM x1s),
       |z1s AS (SELECT audio_id, n_samples, n,
       |  CAST((CAST(alo * 484763065 AS HUGEINT) +
       |    CAST((alo * 3210233709) % 4294967296 + (ahi * 484763065) % 4294967296 AS HUGEINT)
       |      % 4294967296 * 4294967296) % 18446744073709551616 AS UBIGINT) AS z1
       |  FROM l1),
       |x2s AS (SELECT audio_id, n_samples, n, xor(z1, z1 >> 27) AS a2 FROM z1s),
       |l2 AS (SELECT audio_id, n_samples, n, a2 >> 32 AS ahi, a2 & 4294967295 AS alo FROM x2s),
       |z2s AS (SELECT audio_id, n_samples, n,
       |  CAST((CAST(alo * 321982955 AS HUGEINT) +
       |    CAST((alo * 2496678331) % 4294967296 + (ahi * 321982955) % 4294967296 AS HUGEINT)
       |      % 4294967296 * 4294967296) % 18446744073709551616 AS UBIGINT) AS z2
       |  FROM l2),
       |smp AS (SELECT audio_id, n_samples, n,
       |  CAST((xor(z2, z2 >> 31) >> 4) % 4001 AS BIGINT) - 2000 AS v FROM z2s)""".stripMargin

  /** Shared PNG ahash/mean CTE chain: generator-formula pixels (SplitMix64
   * unrolled with 32-bit-limb wrap-multiplies in HUGEINT), 8x8 cell means,
   * sequential list_sum, sign-mapped UBIGINT bit pack — parameterized by
   * the id slice. Exposes CTEs `img`, `px`, `bits` (UBIGINT `ub`), `means`. */
  private def ahashCtes(idLimit: Int): String = ahashChain(
    s"""img AS (SELECT image_id, w, h, CAST(substr(image_id, 4, 12) AS BIGINT) AS i
       |  FROM read_parquet('$DataRoot/images_sf0.01.parquet/*.parquet')
       |  WHERE fmt = 'png' AND CAST(substr(image_id, 4, 12) AS BIGINT) < $idLimit)""".stripMargin)

  /** Same chain over any `img(image_id, w, h, i)` CTE (i = generator seed) —
   * lets the video mirror hash PNG frames by their frame seed. */
  private def ahashChain(imgCte: String): String =
    s"""$imgCte,
       |ns AS (SELECT n FROM generate_series(0, 1088) t(n)),
       |pxn AS (SELECT image_id, i, w, h, n FROM img JOIN ns ON ns.n < img.w * img.h),
       |st AS (SELECT image_id, w, h, n,
       |  CAST((CAST(i AS HUGEINT) + CAST(n + 1 AS HUGEINT) * 11400714819323198485)
       |    % 18446744073709551616 AS UBIGINT) AS z0 FROM pxn),
       |x1s AS (SELECT image_id, w, h, n, xor(z0, z0 >> 30) AS a1 FROM st),
       |l1 AS (SELECT image_id, w, h, n, a1 >> 32 AS ahi, a1 & 4294967295 AS alo FROM x1s),
       |z1s AS (SELECT image_id, w, h, n,
       |  CAST((CAST(alo * 484763065 AS HUGEINT) +
       |    CAST((alo * 3210233709) % 4294967296 + (ahi * 484763065) % 4294967296 AS HUGEINT)
       |      % 4294967296 * 4294967296) % 18446744073709551616 AS UBIGINT) AS z1
       |  FROM l1),
       |x2s AS (SELECT image_id, w, h, n, xor(z1, z1 >> 27) AS a2 FROM z1s),
       |l2 AS (SELECT image_id, w, h, n, a2 >> 32 AS ahi, a2 & 4294967295 AS alo FROM x2s),
       |z2s AS (SELECT image_id, w, h, n,
       |  CAST((CAST(alo * 321982955 AS HUGEINT) +
       |    CAST((alo * 2496678331) % 4294967296 + (ahi * 321982955) % 4294967296 AS HUGEINT)
       |      % 4294967296 * 4294967296) % 18446744073709551616 AS UBIGINT) AS z2
       |  FROM l2),
       |px AS (SELECT image_id, w, h, n % w AS x, n // w AS y,
       |  (((n % w) * 160) // w + ((n // w) * 80) // h
       |    + CAST((xor(z2, z2 >> 31) >> 1) % 4 AS BIGINT)) & 255 AS g
       |  FROM z2s),
       |g8 AS (SELECT gi FROM generate_series(0, 7) t(gi)),
       |cl AS (SELECT img.image_id, gy.gi AS gy, gx.gi AS gx,
       |    (gx.gi * w) // 8 AS x0, greatest((gx.gi * w) // 8 + 1, ((gx.gi + 1) * w) // 8) AS x1,
       |    (gy.gi * h) // 8 AS y0, greatest((gy.gi * h) // 8 + 1, ((gy.gi + 1) * h) // 8) AS y1
       |  FROM img, g8 gx, g8 gy),
       |gray AS (SELECT p.image_id, c.gy * 8 + c.gx AS gidx,
       |    CAST(sum(p.g) AS DOUBLE) / count(*) AS gval
       |  FROM px p JOIN cl c ON p.image_id = c.image_id
       |    AND p.x >= c.x0 AND p.x < c.x1 AND p.y >= c.y0 AND p.y < c.y1
       |  GROUP BY p.image_id, c.gy * 8 + c.gx),
       |meanv AS (SELECT image_id, list_sum(list(gval ORDER BY gidx)) / 64.0 AS m
       |  FROM gray GROUP BY image_id),
       |bits AS (SELECT g.image_id,
       |    sum(CASE WHEN g.gval >= m.m THEN CAST(1 AS UBIGINT) << g.gidx
       |      ELSE CAST(0 AS UBIGINT) END) AS ub
       |  FROM gray g JOIN meanv m USING (image_id) GROUP BY g.image_id),
       |means AS (SELECT image_id, CAST(sum(g) AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_g
       |  FROM px GROUP BY image_id, w, h)""".stripMargin

  private def audioDf(s: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll(".*/", "")
    val path = graft.tables.Audio.ensureParquet(s, DataRoot, tag,
      graft.tables.Audio.rowsForSf(dir))
    readParquetCached(s, path)
  }

  private def videoDf(s: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll(".*/", "")
    val path = graft.tables.Video.ensureParquet(s, DataRoot, tag,
      graft.tables.Video.rowsForSf(dir))
    readParquetCached(s, path)
  }

  val all: Seq[Query] = Seq(
    query("q_img_cell")((s, dir) =>
      imagesDf(s, dir)
        .select(col("image_id"), col("phash"))
        .withColumn("x", phashLon(col("phash")))
        .withColumn("y", phashLat(col("phash")))
        .withColumn("cell_id", cellId(col("x"), col("y"), 6))
        .groupBy("cell_id").agg(count(lit(1)).as("n"))
        .orderBy("cell_id"))(
      imgCellSql),

    query("q_img_pip")((s, dir) => {
      val imgs = imagesDf(s, dir)
        .select(col("image_id"), col("phash"))
        .withColumn("x", phashLon(col("phash")))
        .withColumn("y", phashLat(col("phash")))
      SpatialJoin.broadcastJoin(s, imgs, "x", "y", imageLayer)
        .groupBy("poly_key").agg(count(lit(1)).as("n_images"))
        .orderBy("poly_key")
    })(
      // phash decode + ray-cast PIP against the 64-shape image layer, mirrored
      // end to end (same cascade as q_img_cell, same PIP kernel as q_pip_join)
      s"""WITH $imgXYSql,
         |$imageEdgesSql,
         |hits AS (SELECT p.image_id, e.pk,
         |    SUM(CASE WHEN ((e.ex1 > p.x) <> (e.ex2 > p.x))
         |          AND e.ey1 + (p.x - e.ex1) * (e.ey2 - e.ey1) / (e.ex2 - e.ex1) > p.y
         |        THEN 1 ELSE 0 END) AS crossings
         |  FROM xy p CROSS JOIN iedges e GROUP BY p.image_id, e.pk)
         |SELECT CAST(pk AS BIGINT) AS poly_key, count(*) AS n_images
         |FROM hits WHERE crossings % 2 = 1 GROUP BY 1 ORDER BY poly_key""".stripMargin),

    // the headline's semantics DuckDB-verified end to end: Morton-decode the
    // image phash to (x, y), broadcast-PIP against the 8-shape oracle layer,
    // count per polygon — decode cascade + ray-cast parity both mirrored
    query("q_img_pip_oracle")((s, dir) => {
      val imgs = imagesDf(s, dir)
        .select(col("image_id"), col("phash"))
        .withColumn("x", phashLon(col("phash")))
        .withColumn("y", phashLat(col("phash")))
      SpatialJoin.broadcastJoin(s, imgs, "x", "y", Synthetic.oracleLayer)
        .groupBy("poly_key").agg(count(lit(1)).as("n_images"))
        .orderBy("poly_key")
    })(
      s"""WITH img AS (SELECT phash FROM read_parquet('$DataRoot/images_sf0.01.parquet/*.parquet')),
         |s0 AS (SELECT phash >> 1 AS x, phash AS y FROM img),
         |d1 AS (SELECT x & 6148914691236517205 AS x, y & 6148914691236517205 AS y FROM s0),
         |d2 AS (SELECT (x | (x >> 1)) & 3689348814741910323 AS x,
         |              (y | (y >> 1)) & 3689348814741910323 AS y FROM d1),
         |d3 AS (SELECT (x | (x >> 2)) & 1085102592571150095 AS x,
         |              (y | (y >> 2)) & 1085102592571150095 AS y FROM d2),
         |d4 AS (SELECT (x | (x >> 4)) & 71777214294589695 AS x,
         |              (y | (y >> 4)) & 71777214294589695 AS y FROM d3),
         |d5 AS (SELECT (x | (x >> 8)) & 281470681808895 AS x,
         |              (y | (y >> 8)) & 281470681808895 AS y FROM d4),
         |d6 AS (SELECT (x | (x >> 16)) & 4294967295 AS x,
         |              (y | (y >> 16)) & 4294967295 AS y FROM d5),
         |pts2 AS (SELECT row_number() OVER () AS id,
         |  CAST(x AS DOUBLE) * ${dl(Images.LocScale)} AS x,
         |  CAST(y AS DOUBLE) * ${dl(Images.LocScale)} AS y FROM d6),
         |$oracleEdgesSql,
         |hits AS (
         |  SELECT p.id, e.pk,
         |    SUM(CASE WHEN ((e.ex1 > p.x) <> (e.ex2 > p.x))
         |          AND e.ey1 + (p.x - e.ex1) * (e.ey2 - e.ey1) / (e.ex2 - e.ex1) > p.y
         |        THEN 1 ELSE 0 END) AS crossings
         |  FROM pts2 p CROSS JOIN edges e
         |  GROUP BY p.id, e.pk)
         |SELECT CAST(pk AS BIGINT) AS poly_key, count(*) AS n_images
         |FROM hits WHERE crossings % 2 = 1
         |GROUP BY pk ORDER BY poly_key""".stripMargin),

    query("q_img_tiles")((s, dir) =>
      Tiling.tileAssign(s, imagesDf(s, dir), tileGrid = 4, res = 9, Some(imageLayer))
        .groupBy("cell_id", "poly_key").agg(count(lit(1)).as("n_tiles"))
        .orderBy("cell_id", "poly_key"))(
      // the headline tile pipeline mirrored end to end: phash decode, 4x4 tile
      // centers (identical FP op order), Morton re-encode at res 9, first-match
      // PIP per tile center (min pk | -1), count per (cell, poly)
      s"""WITH $imgXYSql,
         |$imageEdgesSql,
         |tiles AS (SELECT image_id, t.t,
         |    (x - ${dl(Tiling.FootprintSide / 2)}) + (CAST(t.t % 4 AS DOUBLE) + 0.5) * ${dl(Tiling.FootprintSide / 4)} AS cx,
         |    (y - ${dl(Tiling.FootprintSide / 2)}) + (CAST(CAST(trunc(CAST(t.t AS DOUBLE) / 4.0) AS INTEGER) AS DOUBLE) + 0.5) * ${dl(Tiling.FootprintSide / 4)} AS cy
         |  FROM xy CROSS JOIN range(0, 16) t(t)),
         |${cellEncodeSql("tiles", 9)},
         |thits AS (SELECT p.image_id, p.t, p.cell_id, e.pk,
         |    SUM(CASE WHEN ((e.ex1 > p.cx) <> (e.ex2 > p.cx))
         |          AND e.ey1 + (p.cx - e.ex1) * (e.ey2 - e.ey1) / (e.ex2 - e.ex1) > p.cy
         |        THEN 1 ELSE 0 END) AS crossings
         |  FROM enc p CROSS JOIN iedges e GROUP BY p.image_id, p.t, p.cell_id, e.pk),
         |tkey AS (SELECT image_id, t, cell_id,
         |    coalesce(min(CASE WHEN crossings % 2 = 1 THEN pk END), -1) AS poly_key
         |  FROM thits GROUP BY image_id, t, cell_id)
         |SELECT cell_id, CAST(poly_key AS BIGINT) AS poly_key, count(*) AS n_tiles
         |FROM tkey GROUP BY 1, 2 ORDER BY cell_id, poly_key""".stripMargin),

    // decode -> luma grid -> blur + bilinear downsample per image (the raster
    // toolbox on the binary payload; deterministic quantized outputs)
    // raster stage over the lossless slice: decode -> luma (grayscale, so
    // luma == g exactly) -> separable box blur -> 8x8 bilinear resample ->
    // mean + center, every double op mirrored
    query("q_img_raster")((s, dir) =>
      Multimodal.rasterStage(s, imagesDf(s, dir)
          .where(col("fmt") === "png" &&
            substring(col("image_id"), 4, 12).cast("long") < 300))
        .orderBy("image_id")) {
      // decode -> luma -> boxBlur(1) (separable, edge-clamped, (l+c+r)/3 in
      // the kernel's summation order) -> 8x8 bilinear (edge-clamped taps) ->
      // mean (sequential list_sum == Array.sum) + center, half-up rounding
      def clampX(e: String) = s"least(greatest($e, 0), o.w - 1)"
      def clampY(e: String) = s"least(greatest($e, 0), o.h - 1)"
      s"""WITH ${ahashCtes(300)},
         |lum AS (SELECT image_id, w, h, x, y, CAST(g AS DOUBLE) AS v FROM px),
         |hb AS (SELECT a.image_id, a.w, a.h, a.x, a.y, (l.v + a.v + r.v) / 3.0 AS v
         |  FROM lum a
         |  JOIN lum l ON l.image_id = a.image_id AND l.y = a.y
         |    AND l.x = greatest(a.x - 1, 0)
         |  JOIN lum r ON r.image_id = a.image_id AND r.y = a.y
         |    AND r.x = least(a.x + 1, a.w - 1)),
         |vb AS (SELECT a.image_id, a.w, a.h, a.x, a.y, (u.v + a.v + d.v) / 3.0 AS v
         |  FROM hb a
         |  JOIN hb u ON u.image_id = a.image_id AND u.x = a.x
         |    AND u.y = greatest(a.y - 1, 0)
         |  JOIN hb d ON d.image_id = a.image_id AND d.x = a.x
         |    AND d.y = least(a.y + 1, a.h - 1)),
         |op AS (SELECT img.image_id, img.w, img.h, ox.i AS ox, oy.i AS oy,
         |    (CAST(ox.i AS DOUBLE) + 0.5) * (CAST(img.w AS DOUBLE) / 8.0) - 0.5 AS fx,
         |    (CAST(oy.i AS DOUBLE) + 0.5) * (CAST(img.h AS DOUBLE) / 8.0) - 0.5 AS fy
         |  FROM img CROSS JOIN range(0, 8) ox(i) CROSS JOIN range(0, 8) oy(i)),
         |ot AS (SELECT *, CAST(floor(fx) AS BIGINT) AS x0, CAST(floor(fy) AS BIGINT) AS y0,
         |    fx - floor(fx) AS tx, fy - floor(fy) AS ty FROM op),
         |tp AS (SELECT o.image_id, o.ox, o.oy, o.tx, o.ty,
         |    v00.v AS v00, v10.v AS v10, v01.v AS v01, v11.v AS v11
         |  FROM ot o
         |  JOIN vb v00 ON v00.image_id = o.image_id
         |    AND v00.x = ${clampX("o.x0")} AND v00.y = ${clampY("o.y0")}
         |  JOIN vb v10 ON v10.image_id = o.image_id
         |    AND v10.x = ${clampX("o.x0 + 1")} AND v10.y = ${clampY("o.y0")}
         |  JOIN vb v01 ON v01.image_id = o.image_id
         |    AND v01.x = ${clampX("o.x0")} AND v01.y = ${clampY("o.y0 + 1")}
         |  JOIN vb v11 ON v11.image_id = o.image_id
         |    AND v11.x = ${clampX("o.x0 + 1")} AND v11.y = ${clampY("o.y0 + 1")}),
         |ov AS (SELECT image_id, ox, oy,
         |    (v00 * (1 - tx) + v10 * tx) * (1 - ty)
         |      + (v01 * (1 - tx) + v11 * tx) * ty AS val FROM tp),
         |agg AS (SELECT image_id,
         |    list_sum(list(val ORDER BY oy * 8 + ox)) AS tot,
         |    min(CASE WHEN ox = 4 AND oy = 4 THEN val END) AS center
         |  FROM ov GROUP BY image_id)
         |SELECT a2.image_id, i2.w, i2.h,
         |  CAST(floor(tot / 64 * 1000.0 + 0.5) AS BIGINT) AS mean_luma_q,
         |  CAST(floor(center * 1000.0 + 0.5) AS BIGINT) AS blur_center_q
         |FROM agg a2 JOIN img i2 USING (image_id) ORDER BY a2.image_id""".stripMargin
    },

    // full 500-row feature slice: decoded dims verified for BOTH codecs
    // (JPEG preserves dimensions), ahash verified on the lossless rows
    // (JPEG ahash is codec-dependent — projected out, covered by spec)
    query("q_img_features")((s, dir) =>
      Multimodal.features(s, imagesDf(s, dir)
          .where(substring(col("image_id"), 4, 12).cast("long") < 500)).toDF()
        .select(col("image_id"), col("w"), col("h"), col("fmt"),
          when(col("fmt") === "png", col("ahash")).as("ahash_png"))
        .orderBy("image_id"))(
      // decoded dims for all 500 (both codecs); ahash re-derived for the
      // lossless PNG rows from the generator formula, NULL for JPEG
      s"""WITH ${ahashCtes(500)},
        |base AS (SELECT image_id, w, h, fmt
        |  FROM read_parquet('$DataRoot/images_sf0.01.parquet/*.parquet')
        |  WHERE CAST(substr(image_id, 4, 12) AS BIGINT) < 500),
        |ah AS (SELECT image_id,
        |  CASE WHEN ub >= 9223372036854775808
        |    THEN CAST(CAST(ub AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |    ELSE CAST(ub AS BIGINT) END AS ahash FROM bits)
        |SELECT base.image_id, base.w, base.h, base.fmt, ah.ahash AS ahash_png
        |FROM base LEFT JOIN ah USING (image_id) ORDER BY image_id""".stripMargin),

    // image features through the REAL PNG codec, oracle-verified: PNG is
    // lossless, so decoded pixels equal the generator formula and the SQL
    // mirror re-derives ahash + mean from pure SplitMix64 arithmetic —
    // the decode path itself is inside the verified loop
    query("q_img_ahash")((s, dir) =>
      Multimodal.features(s, imagesDf(s, dir).where(col("fmt") === "png" &&
          substring(col("image_id"), 4, 12).cast("long") < 400)).toDF()
        .select(col("image_id"), col("ahash"), col("mean_g"))
        .orderBy("image_id"))(
      s"""WITH ${ahashCtes(400)}
        |SELECT b.image_id,
        |  CASE WHEN ub >= 9223372036854775808
        |    THEN CAST(CAST(ub AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |    ELSE CAST(ub AS BIGINT) END AS ahash,
        |  mn.mean_g
        |FROM bits b JOIN means mn USING (image_id) ORDER BY b.image_id""".stripMargin),

    // augmentation end-to-end: center-crop + deterministic flip, re-encoded
    // PNG, decoded again — crop luma sums are flip-invariant and mirror the
    // generator formula exactly
    query("q_img_augment")((s, dir) => {
      import s.implicits._
      val imgs = imagesDf(s, dir).where(col("fmt") === "png" &&
        substring(col("image_id"), 4, 12).cast("long") < 200)
      Multimodal.withAugmented(imgs)
        .select("image_id", "aug").as[(String, Array[Byte])]
        .map { case (id, aug) =>
          val (w, _, px) = graft.tables.Images.decode(aug)
          var sum = 0L
          var i = 0
          while (i < px.length) { sum += px(i) & 0xff; i += 1 }
          (id, w.toLong, sum)
        }
        .toDF("image_id", "side", "lum_sum")
        .orderBy("image_id")
    })(
      // image ahash/mean via pure SQL pixel synthesis (PNG lossless => decoded
      // pixels == generator formula): SplitMix64 unrolled with 32-bit-limb
      // wrap-multiplies in HUGEINT, 8x8 cell means, sequential list_sum,
      // sign-mapped UBIGINT bit pack
      // augment (center-crop square + deterministic flip) end-to-end through
      // PNG encode/decode: the crop's luma sum is flip-invariant and derives
      // exactly from the generator formula
      (s"""WITH ${imgPxPrefix(200)},
         |crop AS (SELECT image_id,
         |    least(w, h) AS side, (w - least(w, h)) // 2 AS cx0, (h - least(w, h)) // 2 AS cy0
         |  FROM img)
         |SELECT p.image_id, CAST(c.side AS BIGINT) AS side, CAST(sum(p.g) AS BIGINT) AS lum_sum
         |FROM px p JOIN crop c ON p.image_id = c.image_id
         |  AND p.x >= c.cx0 AND p.x < c.cx0 + c.side
         |  AND p.y >= c.cy0 AND p.y < c.cy0 + c.side
         |GROUP BY p.image_id, c.side ORDER BY p.image_id""").stripMargin),

    // audio features through the REAL JDK WAV codec: PCM16 is lossless, so
    // the DuckDB oracle re-synthesizes every sample from the SplitMix64
    // generator and recomputes the integer features exactly — the decode
    // path is inside the verified loop (the audio analog of q_img_ahash)
    query("q_audio_features")((s, dir) =>
      AudioOps.features(s, audioDf(s, dir)
          .where(substring(col("audio_id"), 4, 12).cast("long") < 300)).toDF()
        .select(col("audio_id"), col("n_samples"), col("duration_ms"),
          col("zero_crossings"), col("peak").cast("long").as("peak"), col("energy"))
        .orderBy("audio_id"))(
      s"""WITH ${audioSmpCtes(300)},
         |zc0 AS (SELECT audio_id, n, v,
         |    lag(v) OVER (PARTITION BY audio_id ORDER BY n) AS pv FROM smp),
         |zc AS (SELECT audio_id,
         |    CAST(SUM(CASE WHEN pv IS NOT NULL AND (pv < 0) <> (v < 0)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
         |    CAST(max(abs(v)) AS BIGINT) AS peak,
         |    CAST(SUM(v * v) AS BIGINT) AS energy
         |  FROM zc0 GROUP BY audio_id)
         |SELECT a.audio_id, a.n_samples,
         |  CAST(a.n_samples AS BIGINT) * 1000 // 8000 AS duration_ms,
         |  z.zero_crossings, z.peak, z.energy
         |FROM aud a JOIN zc z USING (audio_id) ORDER BY a.audio_id""".stripMargin),

    // segment edit end-to-end: decode -> middle-half slice -> WAV re-encode
    // -> decode again; segment energy mirrors the generator closed-form
    query("q_audio_segment")((s, dir) =>
      AudioOps.middleSegment(s, audioDf(s, dir)
          .where(substring(col("audio_id"), 4, 12).cast("long") < 300))
        .select("audio_id", "seg_from", "seg_len", "seg_energy")
        .orderBy("audio_id"))(
      s"""WITH ${audioSmpCtes(300)},
         |seg AS (SELECT audio_id, n_samples, n, v FROM smp
         |  WHERE n >= n_samples // 4 AND n < n_samples // 4 + n_samples // 2)
         |SELECT audio_id,
         |  CAST(min(n) AS BIGINT) AS seg_from,
         |  CAST(count(*) AS BIGINT) AS seg_len,
         |  CAST(SUM(v * v) AS BIGINT) AS seg_energy
         |FROM seg GROUP BY audio_id ORDER BY audio_id""".stripMargin),

    // video frame sampling: container seek + real PNG decode per sampled
    // frame; ahash/mean re-derived by the oracle from the frame seed
    // (vi·100000 + frame) through the same generator chain as q_img_ahash
    query("q_video_frames")((s, dir) =>
      VideoOps.sampleFrames(s, videoDf(s, dir)
          .where(substring(col("video_id"), 4, 12).cast("long") < 150), stride = 2)
        .orderBy("video_id", "frame")) {
      val imgCte =
        s"""vid AS (SELECT video_id, w, h, n_frames, CAST(substr(video_id, 4, 12) AS BIGINT) AS vi
          |  FROM read_parquet('$DataRoot/video_sf0.01.parquet/*.parquet')
          |  WHERE CAST(substr(video_id, 4, 12) AS BIGINT) < 150),
          |fr AS (SELECT video_id, w, h, f.f AS frame, vi * 100000 + f.f AS i
          |  FROM vid JOIN generate_series(0, 8) f(f)
          |  ON f.f < vid.n_frames AND f.f % 2 = 0),
          |img AS (SELECT video_id || '#' || CAST(frame AS VARCHAR) AS image_id, w, h, i
          |  FROM fr)""".stripMargin
      s"""WITH ${ahashChain(imgCte)},
         |keyed AS (SELECT fr.video_id, CAST(fr.frame AS BIGINT) AS frame,
         |    fr.video_id || '#' || CAST(fr.frame AS VARCHAR) AS image_id FROM fr)
         |SELECT k.video_id, k.frame,
         |  CASE WHEN b.ub >= 9223372036854775808
         |    THEN CAST(CAST(b.ub AS HUGEINT) - 18446744073709551616 AS BIGINT)
         |    ELSE CAST(b.ub AS BIGINT) END AS ahash,
         |  CAST(floor(mn.mean_g * 1000.0) AS BIGINT) AS mean_g_int
         |FROM keyed k
         |JOIN bits b USING (image_id) JOIN means mn USING (image_id)
         |ORDER BY k.video_id, k.frame""".stripMargin
    },

    // PSNR vs re-render: the PNG path is lossless (decoded pixels == the
    // generator formula, psnr sentinel 999.0) and the JPEG path must stay
    // high-fidelity (>= 40 dB round-trip) — both facts, plus the decoded
    // dimensions, mirror exactly from the stored table
    query("q_img_psnr")((s, dir) =>
      Multimodal.psnrVsRender(s, imagesDf(s, dir)
          .where(substring(col("image_id"), 4, 12).cast("long") < 500))
        .select(col("image_id"), col("w"), col("h"),
          (col("psnr_db") >= 999.0).as("lossless"),
          (col("psnr_db") >= 40.0).as("high_fidelity"))
        .orderBy("image_id"))(
      // PNG rows are lossless by construction; the JPEG round trip must hold
      // >= 40 dB (deterministic image family; observed floor ~48.5 dB)
      s"""SELECT image_id, w, h, fmt = 'png' AS lossless, TRUE AS high_fidelity
        |FROM read_parquet('$DataRoot/images_sf0.01.parquet/*.parquet')
        |WHERE CAST(substr(image_id, 4, 12) AS BIGINT) < 500
        |ORDER BY image_id""".stripMargin),

    // decoded tile stats (raster-tile mean luma per grid cell): real PNG
    // decode on the engine side; the mirror re-synthesizes every pixel from
    // the SplitMix64 generator formula and replays the integer tile bounds
    query("q_tile_stats")((s, dir) =>
      Tiling.tileStats(s, imagesDf(s, dir).where(col("fmt") === "png" &&
          substring(col("image_id"), 4, 12).cast("long") < 300), tileGrid = 3)
        .select(col("image_id"), col("tile_x"), col("tile_y"), col("mean_luma"))
        .orderBy("image_id", "tile_x", "tile_y"))(
      // every PNG pixel re-synthesized from the SplitMix64 generator (shared
      // ahash chain), tile windows replayed with the same integer bounds
      // (xa = tx*w/3, xb = max(xa+1, (tx+1)*w/3)); per-pixel luma of a gray
      // pixel is the gray value itself ((g*299 + g*587 + g*114)/1000 = g)
      s"""WITH ${ahashCtes(300)},
         |tt AS (SELECT ti FROM generate_series(0, 2) t(ti)),
         |tc AS (SELECT img.image_id, tx.ti AS tile_x, ty.ti AS tile_y,
         |    (tx.ti * w) // 3 AS xa,
         |    greatest((tx.ti * w) // 3 + 1, ((tx.ti + 1) * w) // 3) AS xb,
         |    (ty.ti * h) // 3 AS ya,
         |    greatest((ty.ti * h) // 3 + 1, ((ty.ti + 1) * h) // 3) AS yb
         |  FROM img, tt tx, tt ty)
         |SELECT c.image_id, CAST(c.tile_x AS INT) AS tile_x,
         |  CAST(c.tile_y AS INT) AS tile_y,
         |  CAST(sum(p.g) AS DOUBLE) / count(*) AS mean_luma
         |FROM px p JOIN tc c ON p.image_id = c.image_id
         |  AND p.x >= c.xa AND p.x < c.xb AND p.y >= c.ya AND p.y < c.yb
         |GROUP BY c.image_id, c.tile_x, c.tile_y
         |ORDER BY 1, 2, 3""".stripMargin)
  )
}
