package graft
package entry

import org.apache.spark.sql.functions._

import graft.SparkEntry.DataRoot
import graft.entry.Fixtures._
import graft.entry.Query.query
import graft.functions.GraftFunctions._
import graft.index.PolygonLayer
import graft.operators._
import graft.tables.Synthetic

/**
 * Spatial joins: cell assignment, point-in-polygon, fuzzy and polygon joins,
 * kNN, distance joins, salted and streaming PIP, the tile run.
 */
private[graft] object SpatialJoinQueries {

  /** Vertical-ray even-odd crossing count per (point, shape) — the SQL mirror
   * of the PIP kernel (same arithmetic order as Geom.rayIntersection). */
  private val pipHitsSql: String =
    """hits AS (
      |  SELECT p.id, e.pk,
      |    SUM(CASE WHEN ((e.ex1 > p.x) <> (e.ex2 > p.x))
      |          AND e.ey1 + (p.x - e.ex1) * (e.ey2 - e.ey1) / (e.ex2 - e.ex1) > p.y
      |        THEN 1 ELSE 0 END) AS crossings
      |  FROM pts p CROSS JOIN edges e
      |  GROUP BY p.id, e.pk)""".stripMargin

  /** SQL mirror of Geom.pointSegDistSq for a segment with literal endpoint
   * expressions (cell edges: ab2 > 0 always) — identical op order, clamp via
   * greatest(least(.)). Point columns are `x`, `y`. */
  private def segDist2Sql(ax: String, ay: String, bx: String, by: String): String = {
    val t = s"greatest(least((((x - $ax) * ($bx - $ax)) + ((y - $ay) * ($by - $ay))) / " +
      s"((($ax - $bx) * ($ax - $bx)) + (($ay - $by) * ($ay - $by))), 1.0), 0.0)"
    s"((x - ($ax + $t * ($bx - $ax))) * (x - ($ax + $t * ($bx - $ax))) + " +
      s"(y - ($ay + $t * ($by - $ay))) * (y - ($ay + $t * ($by - $ay))))"
  }

  val all: Seq[Query] = Seq(
    query("q_cell_assign")((s, dir) => {
      // encode then decode: the oracle (plain floor arithmetic) also verifies
      // the Morton encode/decode round trip inside cellId. Decode is the
      // codegen CellCoordExpr (r6: was a boxed UDF allocating a tuple+array
      // per row — guide §4.1, prefer codegen expressions on query paths).
      import graft.functions.SpatialExprs
      points(s, dir)
        .withColumn("cell", cellId(col("x"), col("y"), 7))
        .groupBy(SpatialExprs.cellX(col("cell")).as("cx"),
          SpatialExprs.cellY(col("cell")).as("cy"))
        .agg(count(lit(1)).as("n"))
        .orderBy("cx", "cy")
    })(
      s"""WITH $ptsSql
         |SELECT CAST(floor(x / 2.8125) AS BIGINT) AS cx,
         |       CAST(floor(y / 2.8125) AS BIGINT) AS cy, count(*) AS n
         |FROM pts GROUP BY cx, cy ORDER BY cx, cy""".stripMargin),

    query("q_pip_join")((s, dir) =>
      SpatialJoin.broadcastJoin(s, points(s, dir), "x", "y", Synthetic.oracleLayer)
        .select(col("id"), col("poly_key"))
        .orderBy("id", "poly_key"))(
      s"""WITH $ptsSql,
         |$oracleEdgesSql,
         |$pipHitsSql
         |SELECT id, CAST(pk AS BIGINT) AS poly_key FROM hits WHERE crossings % 2 = 1
         |ORDER BY id, poly_key""".stripMargin),

    query("q_pip_count")((s, dir) =>
      SpatialJoin.broadcastJoin(s, points(s, dir), "x", "y", Synthetic.oracleLayer)
        .groupBy(col("poly_key"))
        .agg(count(lit(1)).as("n_points"))
        .orderBy("poly_key"))(
      s"""WITH $ptsSql,
         |$oracleEdgesSql,
         |$pipHitsSql
         |SELECT CAST(pk AS BIGINT) AS poly_key, count(*) AS n_points
         |FROM hits WHERE crossings % 2 = 1
         |GROUP BY pk ORDER BY poly_key""".stripMargin),

    // the cell-partitioned scale path (explode-to-cells equi-join + exact
    // PIP + hot-cell salting) against the SAME ray-cast oracle as the
    // broadcast path — saltThreshold=4 forces most cells through the salted
    // branch, so the driver gate covers the 100-TB join shape, not just the
    // broadcast fast path
    query("q_pip_cell")((s, dir) =>
      SpatialJoin.cellJoin(s, points(s, dir), "x", "y", Synthetic.oracleLayer, res = 5,
          saltThreshold = 4)
        .select(col("id"), col("poly_key"))
        .orderBy("id", "poly_key"))(
      // the cell-partitioned path must reproduce the broadcast path bit-for-bit
      s"""WITH $ptsSql,
         |$oracleEdgesSql,
         |$pipHitsSql
         |SELECT id, CAST(pk AS BIGINT) AS poly_key FROM hits WHERE crossings % 2 = 1
         |ORDER BY id, poly_key""".stripMargin),

    // first_match semantics: a point joins only its first (lowest-key) polygon
    // (ref: first_match flag, point-polygon-join.mjs:33-47)
    query("q_pip_first")((s, dir) => {
      val bc = graft.index.LayerBroadcasts.of(s, Synthetic.oracleLayer)
      points(s, dir)
        .withColumn("poly_key", graft.functions.SpatialExprs.pipFirstKey(col("x"), col("y"), bc))
        .filter(col("poly_key") >= 0)
        .select("id", "poly_key")
        .orderBy("id")
    })(
      s"""WITH $ptsSql,
         |$oracleEdgesSql,
         |$pipHitsSql
         |SELECT id, CAST(min(pk) AS BIGINT) AS poly_key FROM hits WHERE crossings % 2 = 1
         |GROUP BY id ORDER BY id""".stripMargin),

    // reverse join: polygon -> its points (min id + count per polygon)
    query("q_pip_reverse")((s, dir) =>
      SpatialJoin.broadcastJoin(s, points(s, dir), "x", "y", Synthetic.oracleLayer)
        .groupBy(col("poly_key"))
        .agg(min(col("id")).as("first_point"), count(lit(1)).as("n_points"))
        .orderBy("poly_key"))(
      s"""WITH $ptsSql,
         |$oracleEdgesSql,
         |$pipHitsSql
         |SELECT CAST(pk AS BIGINT) AS poly_key, min(id) AS first_point, count(*) AS n_points
         |FROM hits WHERE crossings % 2 = 1
         |GROUP BY pk ORDER BY poly_key""".stripMargin),

    // -fuzzy-join: per polygon, mode of the matched points' category with
    // margin and deterministic tie-break (smallest value wins)
    query("q_fuzzy_join")((s, dir) => {
      val joined = SpatialJoin.broadcastJoin(s, points(s, dir), "x", "y", Synthetic.oracleLayer)
        .withColumn("cat", col("id") % 8)
      JoinOp.modeWithMargin(joined, "poly_key", "cat")
        .select(col("poly_key"), col("mode_value").as("mode_cat"),
          col("mode_count"), col("margin"))
        .orderBy("poly_key")
    })(
      s"""WITH $ptsSql,
         |$oracleEdgesSql,
         |$pipHitsSql,
         |matched AS (
         |  SELECT h.pk, p.id % 8 AS cat FROM hits h JOIN pts p ON h.id = p.id
         |  WHERE h.crossings % 2 = 1),
         |counts AS (SELECT pk, cat, count(*) AS c FROM matched GROUP BY pk, cat),
         |ranked AS (
         |  SELECT pk, cat, c,
         |    row_number() OVER (PARTITION BY pk ORDER BY c DESC, cat) AS rn,
         |    lead(c, 1, 0) OVER (PARTITION BY pk ORDER BY c DESC, cat) AS next_c
         |  FROM counts)
         |SELECT CAST(pk AS BIGINT) AS poly_key, cat AS mode_cat, c AS mode_count,
         |  c - next_c AS margin
         |FROM ranked WHERE rn = 1 ORDER BY poly_key""".stripMargin),

    // -fuzzy-join full surface (dedup_points + no_dropouts + distance tie
    // resolution) over a derived grid-cell polygon layer: closed-cell PIP,
    // FIXTURE INVARIANT: the mirror has no data-fill phase, which is exact
    // because no cell can lose ALL its points to boundary first-match —
    // derived coords first land exactly on a 10-grid line at id 10000
    // (48271·id ≡ 0 mod 10^4), outside the sf0.01 gate range, and at higher
    // SFs every cell holds many interior points.
    // coincident planted duplicates, rare categories that drop out and get
    // restored at their argmax-count cell — all phases exactly mirrored
    query("q_fuzzy_join_full")((s, dir) => {
      import s.implicits._
      val pts0 = points(s, dir)
        .withColumn("cat", when(col("id") % 97 === 0,
          concat(lit("r"), (col("id") % 2).cast("string")))
          .otherwise(concat(lit("c"), (col("id") % 5).cast("string"))))
      // planted coincident duplicates: same (x, y, cat), higher point id
      val dups = pts0.filter(col("id") % 10 === 0)
        .withColumn("id", col("id") + 10000000L)
      val pts = pts0.unionByName(dups)
      val cells = pts0.select(floor(col("x") / 10.0).cast("long").as("cx"),
          floor(col("y") / 10.0).cast("long").as("cy")).distinct()
        .withColumn("key", col("cx") * 1000 + col("cy"))
      val cellRows = cells.select("key", "cx", "cy")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val layer = PolygonLayer.fromShapes(cellRows.map { case (k, cx, cy) =>
        val x0 = cx * 10.0; val y0 = cy * 10.0
        k -> Seq(Array(x0, y0, x0 + 10, y0, x0 + 10, y0 + 10, x0, y0 + 10, x0, y0))
      })
      val adj = cells.as("a").join(cells.as("b"),
          (abs(col("a.cx") - col("b.cx")) + abs(col("a.cy") - col("b.cy"))) === 1 &&
            col("a.key") < col("b.key"))
        .select(col("a.key").as("a"), col("b.key").as("b"), lit(10.0).as("w"))
      FuzzyJoin.join(s, cells.select("key"), "key", pts, "id", "x", "y", "cat",
          layer, adj, dedupPoints = true, noDropouts = true)
        .orderBy("key")
    }) {
      // full fuzzy-join: dedup -> closed-cell first-match PIP (min key on
      // boundaries == layer insertion order) -> mode vote -> distance-weighted
      // tie resolution (exact pointSegDistSq mirror over the 4 cell edges) ->
      // dropout restoration (argmax count, strict >, lowest key; conflicts
      // fail). Cells are derived from the points so none is ever empty and the
      // data-fill phase is a no-op by construction.
      val e1 = segDist2Sql("(cx * 10.0)", "(cy * 10.0)", "(cx * 10.0 + 10)", "(cy * 10.0)")
      val e2 = segDist2Sql("(cx * 10.0 + 10)", "(cy * 10.0)", "(cx * 10.0 + 10)", "(cy * 10.0 + 10)")
      val e3 = segDist2Sql("(cx * 10.0 + 10)", "(cy * 10.0 + 10)", "(cx * 10.0)", "(cy * 10.0 + 10)")
      val e4 = segDist2Sql("(cx * 10.0)", "(cy * 10.0 + 10)", "(cx * 10.0)", "(cy * 10.0)")
      s"""WITH $ptsSql,
         |cat0 AS (SELECT id, x, y,
         |    CASE WHEN id % 97 = 0 THEN 'r' || CAST(id % 2 AS VARCHAR)
         |         ELSE 'c' || CAST(id % 5 AS VARCHAR) END AS cat FROM pts),
         |allp AS (SELECT id, x, y, cat FROM cat0
         |  UNION ALL SELECT id + 10000000, x, y, cat FROM cat0 WHERE id % 10 = 0),
         |ded AS (SELECT id, x, y, cat FROM (
         |    SELECT *, row_number() OVER (PARTITION BY x, y, cat ORDER BY id) AS rn
         |    FROM allp) WHERE rn = 1),
         |ckey AS (SELECT cx * 1000 + cy AS key, cx, cy FROM (
         |    SELECT DISTINCT CAST(floor(x / 10.0) AS BIGINT) AS cx,
         |      CAST(floor(y / 10.0) AS BIGINT) AS cy FROM cat0)),
         |asg AS (SELECT d.id, d.x, d.y, d.cat, min(c.key) AS key
         |  FROM ded d JOIN ckey c
         |    ON d.x >= c.cx * 10.0 AND d.x <= c.cx * 10.0 + 10
         |   AND d.y >= c.cy * 10.0 AND d.y <= c.cy * 10.0 + 10
         |  GROUP BY d.id, d.x, d.y, d.cat),
         |counts AS (SELECT key, cat, count(*) AS c FROM asg GROUP BY key, cat),
         |mx AS (SELECT key, max(c) AS maxc FROM counts GROUP BY key),
         |tied AS (SELECT counts.key, cat, c FROM counts JOIN mx USING (key)
         |  WHERE c = mx.maxc),
         |tn AS (SELECT key, count(*) AS ntied, CAST(max(c) AS BIGINT) AS join_count
         |  FROM tied GROUP BY key),
         |clearw AS (SELECT t.key, t.cat AS win, tn.join_count
         |  FROM tied t JOIN tn USING (key) WHERE tn.ntied = 1),
         |tp AS (SELECT a.key, a.cat, a.x AS x, a.y AS y, c.cx, c.cy
         |  FROM asg a
         |  JOIN tied t ON a.key = t.key AND a.cat = t.cat
         |  JOIN tn ON tn.key = a.key AND tn.ntied > 1
         |  JOIN ckey c ON c.key = a.key),
         |td AS (SELECT key, cat,
         |    sum(sqrt(least($e1, $e2, $e3, $e4))) AS dw
         |  FROM tp GROUP BY key, cat),
         |tiew AS (SELECT key, win, join_count FROM (
         |    SELECT td.key, td.cat AS win, tn.join_count,
         |      row_number() OVER (PARTITION BY td.key ORDER BY td.dw DESC, td.cat) AS rn
         |    FROM td JOIN tn ON tn.key = td.key) WHERE rn = 1),
         |assigned AS (SELECT * FROM clearw UNION ALL SELECT * FROM tiew),
         |missing AS (SELECT DISTINCT cat FROM ded
         |  WHERE cat NOT IN (SELECT DISTINCT win FROM assigned)),
         |wwin AS (SELECT cat, key FROM (
         |    SELECT m.cat, c.key,
         |      row_number() OVER (PARTITION BY m.cat ORDER BY c.c DESC, c.key) AS rn
         |    FROM missing m JOIN counts c ON c.cat = m.cat) WHERE rn = 1),
         |rest AS (SELECT key, cat FROM (
         |    SELECT key, cat, row_number() OVER (PARTITION BY key ORDER BY cat) AS rn
         |    FROM wwin) WHERE rn = 1)
         |SELECT a.key, coalesce(r.cat, a.win) AS value, a.join_count
         |FROM assigned a LEFT JOIN rest r USING (key) ORDER BY a.key""".stripMargin
    },

    query("q_clip_points")((s, dir) =>
      SpatialJoin.clipPoints(s, points(s, dir), "x", "y", Synthetic.oracleLayer)
        .select(col("id")).orderBy("id"))(
      s"""WITH $ptsSql,
         |$oracleEdgesSql,
         |$pipHitsSql
         |SELECT DISTINCT id FROM hits WHERE crossings % 2 = 1 ORDER BY id""".stripMargin),

    query("q_erase_points")((s, dir) =>
      SpatialJoin.clipPoints(s, points(s, dir), "x", "y", Synthetic.oracleLayer, erase = true)
        .select(col("id")).orderBy("id"))(
      s"""WITH $ptsSql,
         |$oracleEdgesSql,
         |$pipHitsSql
         |SELECT id FROM pts WHERE id NOT IN (
         |  SELECT id FROM hits WHERE crossings % 2 = 1) ORDER BY id""".stripMargin),

    query("q_knn")((s, dir) =>
      Knn.knnJoin(s, points(s, dir), "id", "x", "y", k = 3)
        .select(col("id"), col("rank").cast("long").as("rnk"), col("neighbor_id"))
        .orderBy("id", "rnk"))(
      s"""WITH $ptsSql,
         |pairs AS (
         |  SELECT a.id AS id, b.id AS neighbor_id,
         |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
         |  FROM pts a CROSS JOIN pts b WHERE a.id <> b.id),
         |ranked AS (
         |  SELECT id, neighbor_id,
         |    row_number() OVER (PARTITION BY id ORDER BY dist2, neighbor_id) AS rnk
         |  FROM pairs)
         |SELECT id, CAST(rnk AS BIGINT) AS rnk, neighbor_id FROM ranked
         |WHERE rnk <= 3 ORDER BY id, rnk""".stripMargin),

    query("q_dist_join")((s, dir) =>
      Knn.distanceJoin(s, points(s, dir), "id", "x", "y", radius = 2.0)
        .select(col("a_id"), col("b_id"), col("dist2"))
        .orderBy("a_id", "b_id"))(
      s"""WITH $ptsSql
         |SELECT a.id AS a_id, b.id AS b_id,
         |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
         |FROM pts a CROSS JOIN pts b
         |WHERE a.id < b.id
         |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 4.0
         |ORDER BY a_id, b_id""".stripMargin),

    // -filter-geom: bbox containment predicate
    query("q_filter_bbox")((s, dir) =>
      points(s, dir)
        .filter(Points.inBBox(col("x"), col("y"), 25.0, 25.0, 75.0, 75.0))
        .select("id").orderBy("id"))(
      s"""WITH $ptsSql
         |SELECT id FROM pts
         |WHERE x >= 25.0 AND x <= 75.0 AND y >= 25.0 AND y <= 75.0
         |ORDER BY id""".stripMargin),

    // polygon->polygon join, FULLY DISTRIBUTED (cell-join candidates +
    // pairwise clip kernel — no driver mosaic): cell squares vs 3 overlapping
    // literal rectangles; shared areas have closed forms → DuckDB-verified
    query("q_poly_join")((s, dir) => {
      import s.implicits._
      val sources = polyJoinSources.map { case (k, shape) => (k, shape.head) }
        .toDF("key", "ring")
      PolyJoin.overlapDistributed(s, polyJoinTargetsDf(s, dir), sources)
        .select(col("t_key"), col("s_key"),
          floor(col("shared_area") * 1000000.0).cast("long").as("area_int"))
        .orderBy("t_key", "s_key")
    })(
      s"""WITH $ptsSql,
         |cells AS (SELECT DISTINCT CAST(floor(x / 10.0) AS BIGINT) AS cx,
         |    CAST(floor(y / 10.0) AS BIGINT) AS cy FROM pts),
         |srcs(s_key, sx1, sy1, sx2, sy2) AS (VALUES
         |  (100, 5, 5, 55, 55), (101, 45, 25, 95, 75), (102, 25, 45, 75, 95)),
         |ov AS (
         |  SELECT cx * 100 + cy AS t_key, s_key,
         |    greatest(least(cx * 10 + 10, sx2) - greatest(cx * 10, sx1), 0) *
         |    greatest(least(cy * 10 + 10, sy2) - greatest(cy * 10, sy1), 0) AS a
         |  FROM cells CROSS JOIN srcs)
         |SELECT t_key, CAST(s_key AS BIGINT) AS s_key,
         |  CAST(floor(CAST(a AS DOUBLE) * 1000000.0) AS BIGINT) AS area_int
         |FROM ov WHERE a > 0 ORDER BY t_key, s_key""".stripMargin),

    // largest-overlap variant: distributed max_by aggregation (deterministic ties)
    query("q_poly_join_largest")((s, dir) => {
      import s.implicits._
      val sources = polyJoinSources.map { case (k, shape) => (k, shape.head) }
        .toDF("key", "ring")
      val overlaps = PolyJoin.overlapDistributed(s, polyJoinTargetsDf(s, dir), sources)
      PolyJoin.largestOverlapDf(overlaps)
        .select(col("t_key"), col("s_key"),
          floor(col("shared_area") * 1000000.0).cast("long").as("area_int"))
        .orderBy("t_key")
    })(
      s"""WITH $ptsSql,
         |cells AS (SELECT DISTINCT CAST(floor(x / 10.0) AS BIGINT) AS cx,
         |    CAST(floor(y / 10.0) AS BIGINT) AS cy FROM pts),
         |srcs(s_key, sx1, sy1, sx2, sy2) AS (VALUES
         |  (100, 5, 5, 55, 55), (101, 45, 25, 95, 75), (102, 25, 45, 75, 95)),
         |ov AS (
         |  SELECT cx * 100 + cy AS t_key, s_key,
         |    greatest(least(cx * 10 + 10, sx2) - greatest(cx * 10, sx1), 0) *
         |    greatest(least(cy * 10 + 10, sy2) - greatest(cy * 10, sy1), 0) AS a
         |  FROM cells CROSS JOIN srcs),
         |ranked AS (
         |  SELECT t_key, s_key, a,
         |    row_number() OVER (PARTITION BY t_key ORDER BY a DESC, s_key) AS rn
         |  FROM ov WHERE a > 0)
         |SELECT t_key, CAST(s_key AS BIGINT) AS s_key,
         |  CAST(floor(CAST(a AS DOUBLE) * 1000000.0) AS BIGINT) AS area_int
         |FROM ranked WHERE rn = 1 ORDER BY t_key""".stripMargin),

    // polygon->polygon join via points: target squares reduced to interior
    // points, PIP-joined to the broadcast source rectangles
    query("q_poly_join_points")((s, dir) => {
      val srcLayer = PolygonLayer.fromShapes(polyJoinSources)
      PolyJoin.viaPoints(s, polyJoinTargetsDf(s, dir), srcLayer)
        .select(col("key").as("t_key"), col("s_key"))
        .orderBy("t_key", "s_key")
    })(
      s"""WITH $ptsSql,
         |cells AS (SELECT DISTINCT CAST(floor(x / 10.0) AS BIGINT) AS cx,
         |    CAST(floor(y / 10.0) AS BIGINT) AS cy FROM pts),
         |srcs(s_key, sx1, sy1, sx2, sy2) AS (VALUES
         |  (100, 5, 5, 55, 55), (101, 45, 25, 95, 75), (102, 25, 45, 75, 95))
         |SELECT cx * 100 + cy AS t_key, CAST(s_key AS BIGINT) AS s_key
         |FROM cells CROSS JOIN srcs
         |WHERE CAST(cx * 10 + 5 AS DOUBLE) >= sx1 AND CAST(cx * 10 + 5 AS DOUBLE) <= sx2
         |  AND CAST(cy * 10 + 5 AS DOUBLE) >= sy1 AND CAST(cy * 10 + 5 AS DOUBLE) <= sy2
         |ORDER BY t_key, s_key""".stripMargin),

    // checkpoint-resumable tile run: manifest with per-partition lineage
    query("q_tilerun")((s, dir) => {
      import s.implicits._
      val tag = dir.replaceAll(".*/", "")
      val outDir = s"$DataRoot/tilerun_$tag"
      // fresh run for determinism (resume itself is exercised in TileRunSpec)
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmrf)
        f.delete()
      }
      rmrf(new java.io.File(outDir))
      val imgs = imagesDf(s, dir)
      // the lineage CHECKSUM (bit_xor of Spark xxhash64) is exercised in
      // TileRunSpec; the group/input/output lineage is DuckDB-mirrorable
      // (Morton group cascade + ray-cast match counts) and oracled here
      graft.streaming.TileRun.run(s, imgs, imageLayer, outDir, coarseRes = 3, fineRes = 8)
        .map(m => (m.group, m.inputRows, m.outputRows))
        .toDF("grp", "input_rows", "output_rows")
        .orderBy("grp")
    })(
      // TileRun lineage mirrored end to end: Morton coarse-group cascade +
      // per-image ray-cast match counts against the 64-shape layer VALUES
      s"""WITH $imgXYSql,
         |$imageEdgesSql,
         |xyc AS (SELECT image_id, x AS cx, y AS cy FROM xy),
         |${cellEncodeSql("xyc", 3)},
         |hits AS (SELECT p.image_id, e.pk,
         |    SUM(CASE WHEN ((e.ex1 > p.cx) <> (e.ex2 > p.cx))
         |          AND e.ey1 + (p.cx - e.ex1) * (e.ey2 - e.ey1) / (e.ex2 - e.ex1) > p.cy
         |        THEN 1 ELSE 0 END) AS crossings
         |  FROM enc p CROSS JOIN iedges e GROUP BY p.image_id, e.pk),
         |matches AS (SELECT image_id, count(*) AS n FROM hits
         |  WHERE crossings % 2 = 1 GROUP BY image_id)
         |SELECT e.cell_id AS grp, count(*) AS input_rows,
         |  CAST(SUM(coalesce(m.n, 0)) AS BIGINT) AS output_rows
         |FROM enc e LEFT JOIN matches m USING (image_id)
         |GROUP BY 1 ORDER BY grp""".stripMargin),

    // hot-cell SALTING path of the cell-partitioned PIP join: with
    // saltThreshold=0 every covering cell is "hot", so the polygon side is
    // replicated saltFactor ways and every point is deterministically
    // scattered — the skew escape hatch itself must reproduce the broadcast
    // path's ray-cast mirror bit-for-bit (SkewSpec asserts plan shape; this
    // asserts the result through the driver gate)
    query("q_pip_salted")((s, dir) =>
      SpatialJoin.cellJoin(s, points(s, dir), "x", "y", Synthetic.oracleLayer, res = 5,
          saltThreshold = 0)
        .select(col("id"), col("poly_key"))
        .orderBy("id", "poly_key"))(
      // the salted path must reproduce the broadcast path's mirror bit-for-bit
      s"""WITH $ptsSql,
         |$oracleEdgesSql,
         |$pipHitsSql
         |SELECT id, CAST(pk AS BIGINT) AS poly_key FROM hits WHERE crossings % 2 = 1
         |ORDER BY id, poly_key""".stripMargin),

    // cell NEIGHBOR DISK (kNN's ring-expansion primitive, codegen
    // CellDiskExpr): the 5x5 Chebyshev disk of each point's res-6 cell; the
    // oracle re-derives every id from the biased 29-bit Morton interleave
    // arithmetic (CellIndex.encode) as a chained bitwise CTE
    query("q_cell_disk")((s, dir) =>
      points(s, dir).where(col("id") <= 120)
        .withColumn("cell", graft.functions.SpatialExprs.cellIdCol(col("x"), col("y"), 6))
        .select(col("id"),
          explode(graft.functions.SpatialExprs.cellDisk(col("cell"), 2)).as("ncell"))
        .orderBy("id", "ncell"))(
      // every disk id re-derived from the Morton interleave arithmetic
      s"""WITH $ptsSql,
         |mzin AS (SELECT id,
         |    CAST(floor(x / 5.625) AS BIGINT) + dx AS ix,
         |    CAST(floor(y / 5.625) AS BIGINT) + dy AS iy
         |  FROM pts,
         |    (VALUES (-2), (-1), (0), (1), (2)) tx(dx),
         |    (VALUES (-2), (-1), (0), (1), (2)) ty(dy)
         |  WHERE id <= 120),
         |${mortonCtes(6, Seq("id"))}
         |SELECT id, cell AS ncell FROM mz ORDER BY id, ncell""".stripMargin),

    // STREAMING spatial ingestion through the driver gate: two file drops
    // drained by separate AvailableNow queries sharing one checkpoint (the
    // second is a restart — its source list is only the new files), landing
    // in an exactly-once parquet sink via the same broadcast codegen PIP as
    // the batch headline. Exactly-once ⇒ the final table IS the batch
    // q_pip_join row set: each (point, polygon) match exactly once.
    query("q_stream_pip")((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_q").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ck = s"$base/ck"
      // try/finally + closed walk stream (r6, advisor finding): a failed
      // drain()/read no longer leaks the temp tree (a full point-table
      // copy) nor a directory-stream fd per invocation
      try {
        val src = points(s, dir)
        def drain(): Unit = graft.streaming.GeoStream.ingestAvailable(
          graft.streaming.GeoStream.pipAssignStream(s,
            s.readStream.schema("id LONG, x DOUBLE, y DOUBLE").json(inDir),
            "x", "y", Synthetic.oracleLayer),
          outDir, ck)
        src.where(col("id") % 2 === 0).coalesce(1).write.mode("append").json(inDir)
        drain()
        src.where(col("id") % 2 === 1).coalesce(1).write.mode("append").json(inDir)
        drain()
        // materialize (636 rows) so the temp tree can be deleted eagerly —
        // a lazily-read result would read files deleted by the finally block
        import s.implicits._
        val rows = s.read.parquet(outDir)
          .select(col("id"), col("poly_key")).orderBy("id", "poly_key")
          .as[(Long, Long)].collect().toSeq
        rows.toDF("id", "poly_key").orderBy("id", "poly_key")
      } finally {
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(base))
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
    })(
      // exactly-once streaming ingest ⇒ the batch PIP row set, no more, no less
      s"""WITH $ptsSql,
         |$oracleEdgesSql,
         |$pipHitsSql
         |SELECT id, CAST(pk AS BIGINT) AS poly_key FROM hits WHERE crossings % 2 = 1
         |ORDER BY id, poly_key""".stripMargin)
  )
}
