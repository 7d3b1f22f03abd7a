package graft
package entry

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.entry.Fixtures._
import graft.entry.Query.query
import graft.functions.GraftFunctions._
import graft.geom.Overlay
import graft.operators._
import graft.tables.Synthetic

/**
 * Overlay and mosaic: clip, erase, dissolve, union, mosaic, clean, polygonize,
 * divide, inlay, slice, buffers and the topology-based fills.
 */
private[graft] object OverlayQueries {

  /** Shared 3-rect overlap CTE for the mosaic-family oracles (A 10x10 on
   * the integer lattice, B 8x8 at +0.5, C 12x12 at +0.25 — dyadic offsets
   * keep every pairwise and triple overlap width strictly nonzero):
   * pairwise + triple intersection areas, dyadic-exact in double. */
  private lazy val mosaicOvSql: String =
    """gs AS (SELECT DISTINCT id % 50 AS g FROM pts),
      |r AS (SELECT g,
      |  CAST(g * 3 % 13 AS DOUBLE) AS ax, CAST(g * 5 % 17 AS DOUBLE) AS ay,
      |  CAST(g * 5 % 13 AS DOUBLE) + 5.0e-1 AS bx, CAST(g * 8 % 17 AS DOUBLE) + 5.0e-1 AS by,
      |  CAST(g * 7 % 13 AS DOUBLE) + 2.5e-1 AS cx, CAST(g * 11 % 17 AS DOUBLE) + 2.5e-1 AS cy
      |  FROM gs),
      |ov AS (SELECT g,
      |  greatest(least(ax + 10.0, bx + 8.0) - greatest(ax, bx), 0) *
      |  greatest(least(ay + 10.0, by + 8.0) - greatest(ay, by), 0) AS pab,
      |  greatest(least(ax + 10.0, cx + 12.0) - greatest(ax, cx), 0) *
      |  greatest(least(ay + 10.0, cy + 12.0) - greatest(ay, cy), 0) AS pac,
      |  greatest(least(bx + 8.0, cx + 12.0) - greatest(bx, cx), 0) *
      |  greatest(least(by + 8.0, cy + 12.0) - greatest(by, cy), 0) AS pbc,
      |  greatest(least(least(ax + 10.0, bx + 8.0), cx + 12.0)
      |    - greatest(greatest(ax, bx), cx), 0) *
      |  greatest(least(least(ay + 10.0, by + 8.0), cy + 12.0)
      |    - greatest(greatest(ay, by), cy), 0) AS t
      |  FROM r)""".stripMargin

  /** The q_clip_rect SQL: the FULL Sutherland–Hodgman kernel mirrored in
   * SQL — four half-plane passes, each sequencing the ring with window
   * functions (kept vertices + crossings interleaved in ring order, rings
   * under 3 vertices dropped), then closed-shoelace area and vertex count
   * with the same closing-duplicate rule as RectClip.clipRing. Intersection
   * arithmetic matches the Scala kernel's op order exactly. */
  private lazy val clipRectSql: String = {
    // one half-plane pass: in -> v$k (ring, pk, i, x, y), renumbered
    def pass(k: Int, in: String, keep: (String, String) => String,
             ix: String, iy: String): String =
      s"""e$k AS (SELECT ring, pk, i, x AS x1, y AS y1,
         |    coalesce(lead(x) OVER (PARTITION BY ring ORDER BY i),
         |             first_value(x) OVER (PARTITION BY ring ORDER BY i)) AS x2,
         |    coalesce(lead(y) OVER (PARTITION BY ring ORDER BY i),
         |             first_value(y) OVER (PARTITION BY ring ORDER BY i)) AS y2
         |  FROM $in),
         |r$k AS (
         |  SELECT ring, pk, i*2 AS ord, x1 AS x, y1 AS y FROM e$k WHERE ${keep("x1", "y1")}
         |  UNION ALL
         |  SELECT ring, pk, i*2+1 AS ord, $ix AS x, $iy AS y FROM e$k
         |  WHERE (${keep("x1", "y1")}) <> (${keep("x2", "y2")})),
         |c$k AS (SELECT ring, count(*) AS c FROM r$k GROUP BY ring),
         |v$k AS (SELECT rr.ring, rr.pk,
         |    row_number() OVER (PARTITION BY rr.ring ORDER BY rr.ord) - 1 AS i, rr.x, rr.y
         |  FROM r$k rr JOIN c$k cc USING (ring) WHERE cc.c >= 3)""".stripMargin
    val passes = Seq(
      pass(1, "v0", (x, _) => s"$x >= 25.0", "25.0", "y1 + ((25.0 - x1) / (x2 - x1)) * (y2 - y1)"),
      pass(2, "v1", (x, _) => s"$x <= 75.0", "75.0", "y1 + ((75.0 - x1) / (x2 - x1)) * (y2 - y1)"),
      pass(3, "v2", (_, y) => s"$y >= 25.0", "x1 + ((25.0 - y1) / (y2 - y1)) * (x2 - x1)", "25.0"),
      pass(4, "v3", (_, y) => s"$y <= 75.0", "x1 + ((75.0 - y1) / (y2 - y1)) * (x2 - x1)", "75.0")
    ).mkString(",\n")
    s"""WITH v0 AS (SELECT pk, ring, i, CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y
       |  FROM (VALUES ${Synthetic.ringVertsSqlValues(Synthetic.oracleLayer)}) t(pk, ring, i, x, y)),
       |$passes,
       |e5 AS (SELECT ring, pk, i, x AS x1, y AS y1,
       |    coalesce(lead(x) OVER (PARTITION BY ring ORDER BY i),
       |             first_value(x) OVER (PARTITION BY ring ORDER BY i)) AS x2,
       |    coalesce(lead(y) OVER (PARTITION BY ring ORDER BY i),
       |             first_value(y) OVER (PARTITION BY ring ORDER BY i)) AS y2
       |  FROM v4),
       |fin AS (SELECT ring, count(*) AS c,
       |    SUM(x1 * y2 - x2 * y1) / 2.0 AS area,
       |    CASE WHEN arg_min(x1, i) = arg_max(x1, i) AND arg_min(y1, i) = arg_max(y1, i)
       |         THEN 0 ELSE 1 END AS extra
       |  FROM e5 GROUP BY ring)
       |SELECT b.pk AS poly_key, CAST(b.ring AS BIGINT) AS ring_id,
       |  CAST(coalesce(f.c + f.extra, 0) AS BIGINT) AS n_clipped_vertices,
       |  coalesce(CAST(floor(f.area * 1000000.0) AS BIGINT), 0) AS area_int
       |FROM (SELECT DISTINCT CAST(pk AS BIGINT) AS pk, ring FROM v0) b
       |LEFT JOIN fin f USING (ring)
       |ORDER BY ring_id""".stripMargin
  }

  /** The q_data_fill SQL: the modal-neighbor contagion unrolled to 20
   * rounds (the operator's maxRounds) — each round every still-null cell
   * adopts the modal value of its filled neighbors (ties → smallest value).
   * Extra rounds past convergence are no-ops, so the unroll is exact. */
  private lazy val dataFillSql: String = {
    val rounds = (1 to 20).map { k =>
      s"""g$k AS (SELECT u.id, fn.value AS nval, count(*) AS c
         |  FROM f${k - 1} u
         |  JOIN adj ON adj.a = u.id
         |  JOIN f${k - 1} fn ON fn.id = adj.b AND fn.value IS NOT NULL
         |  WHERE u.value IS NULL GROUP BY u.id, fn.value),
         |h$k AS (SELECT id, nval FROM (
         |    SELECT id, nval, row_number() OVER (PARTITION BY id ORDER BY c DESC, nval) AS rn
         |    FROM g$k) t WHERE rn = 1),
         |f$k AS MATERIALIZED (SELECT f.id, coalesce(f.value, h.nval) AS value
         |  FROM f${k - 1} f LEFT JOIN h$k h USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH $ptsSql,
       |cells AS (SELECT CAST(floor(x / 10.0) AS BIGINT) AS cx,
       |    CAST(floor(y / 10.0) AS BIGINT) AS cy, min(id) AS min_id
       |  FROM pts GROUP BY 1, 2),
       |base AS (SELECT cx * 1000 + cy AS id,
       |    CASE WHEN min_id % 3 = 0 THEN 'c' || CAST(min_id % 7 AS VARCHAR) ELSE NULL END AS value,
       |    cx, cy FROM cells),
       |adj0 AS (SELECT a.id AS a, b.id AS b FROM base a JOIN base b
       |  ON (abs(a.cx - b.cx) + abs(a.cy - b.cy)) = 1 AND a.id < b.id),
       |adj AS (SELECT a, b FROM adj0 UNION SELECT b AS a, a AS b FROM adj0),
       |f0 AS MATERIALIZED (SELECT id, value FROM base),
       |$rounds
       |SELECT id, value FROM f20 ORDER BY id""".stripMargin
  }

  val all: Seq[Query] = Seq(
    query("q_dissolve")((s, dir) => {
      import s.implicits._
      val cells = points(s, dir)
        .select((col("id") % 4).as("g"),
          floor(col("x") / 10.0).cast("long").as("cx"),
          floor(col("y") / 10.0).cast("long").as("cy"))
        .distinct()
      // unit-square ring from pure column arithmetic (r6: was a boxed UDF;
      // integer-valued casts are exact, values bit-identical)
      val x = col("cx").cast("double"); val y = col("cy").cast("double")
      val rings = cells.withColumn("ring",
        array(x, y, x + 1, y, x + 1, y + 1, x, y + 1, x, y))
      Dissolve.dissolve(s, rings, "g", "ring")
        .select(col("group").as("g"), col("n_rings_in").as("n_cells"),
          col("n_boundary_edges"))
        .orderBy("g")
    })(
      s"""WITH $ptsSql,
         |cells AS (SELECT DISTINCT id % 4 AS g,
         |    CAST(floor(x / 10.0) AS BIGINT) AS cx, CAST(floor(y / 10.0) AS BIGINT) AS cy
         |  FROM pts),
         |edges AS (
         |  SELECT g, cx AS x1, cy AS y1, cx + 1 AS x2, cy AS y2 FROM cells
         |  UNION ALL SELECT g, cx, cy + 1, cx + 1, cy + 1 FROM cells
         |  UNION ALL SELECT g, cx, cy, cx, cy + 1 FROM cells
         |  UNION ALL SELECT g, cx + 1, cy, cx + 1, cy + 1 FROM cells),
         |ecnt AS (SELECT g, x1, y1, x2, y2, count(*) AS c FROM edges GROUP BY g, x1, y1, x2, y2),
         |bnd AS (SELECT g, count(*) AS n_boundary_edges FROM ecnt WHERE c % 2 = 1 GROUP BY g),
         |mem AS (SELECT g, count(*) AS n_cells FROM cells GROUP BY g)
         |SELECT mem.g AS g, n_cells, n_boundary_edges
         |FROM mem JOIN bnd ON mem.g = bnd.g ORDER BY g""".stripMargin),

    // -innerlines: edges shared by exactly two polygons (cell squares layer)
    query("q_innerlines")((s, dir) => {
      val cells = points(s, dir)
        .select(floor(col("x") / 10.0).cast("long").as("cx"),
          floor(col("y") / 10.0).cast("long").as("cy"))
        .distinct()
      // 4 undirected canonical edges per square; shared edges have count 2
      def edge(x1: Column, y1: Column, x2: Column, y2: Column) =
        struct(x1.as("x1"), y1.as("y1"), x2.as("x2"), y2.as("y2"))
      val edges = cells.select(
        array(
          edge(col("cx"), col("cy"), col("cx") + 1, col("cy")),
          edge(col("cx"), col("cy") + 1, col("cx") + 1, col("cy") + 1),
          edge(col("cx"), col("cy"), col("cx"), col("cy") + 1),
          edge(col("cx") + 1, col("cy"), col("cx") + 1, col("cy") + 1)
        ).as("es"))
        .select(explode(col("es")).as("e"))
      edges.groupBy(col("e")).agg(count(lit(1)).as("c"))
        .filter(col("c") === 2)
        .agg(count(lit(1)).as("n_inner_edges"))
    })(
      s"""WITH $ptsSql,
         |cells AS (SELECT DISTINCT CAST(floor(x / 10.0) AS BIGINT) AS cx,
         |    CAST(floor(y / 10.0) AS BIGINT) AS cy FROM pts),
         |edges AS (
         |  SELECT cx AS x1, cy AS y1, cx + 1 AS x2, cy AS y2 FROM cells
         |  UNION ALL SELECT cx, cy + 1, cx + 1, cy + 1 FROM cells
         |  UNION ALL SELECT cx, cy, cx, cy + 1 FROM cells
         |  UNION ALL SELECT cx + 1, cy, cx + 1, cy + 1 FROM cells),
         |ecnt AS (SELECT x1, y1, x2, y2, count(*) AS c FROM edges GROUP BY x1, y1, x2, y2)
         |SELECT count(*) AS n_inner_edges FROM ecnt WHERE c = 2""".stripMargin),

    // ring signed areas (the -filter-islands / -filter-slivers base measure)
    query("q_ring_area")((s, dir) => {
      import s.implicits._
      val layer = Synthetic.oracleLayer
      (0 until layer.numRings).map { r =>
        val st = layer.ringStart(r)
        val n = layer.ringStart(r + 1) - st
        val area = graft.geom.Geom.signedRingArea(layer.xx, layer.yy, st, n)
        (layer.shapeKeys(layer.ringShape(r)), r.toLong, math.floor(area * 1000000.0).toLong)
      }.toDF("poly_key", "ring", "area_int").orderBy("ring")
    })(
      s"""WITH $oracleEdgesSql
         |SELECT CAST(pk AS BIGINT) AS poly_key, CAST(ring AS BIGINT) AS ring,
         |  CAST(floor(sum(ex1 * ey2 - ex2 * ey1) / 2.0 * 1000000.0) AS BIGINT) AS area_int
         |FROM edges GROUP BY pk, ring ORDER BY ring""".stripMargin),

    // -clip bbox2= fast path: rectangle clip of polygon rings
    query("q_clip_rect")((s, dir) => {
      import s.implicits._
      val layer = Synthetic.oracleLayer
      val rows = (0 until layer.numRings).map { r =>
        val st = layer.ringStart(r); val e = layer.ringStart(r + 1)
        val flat = new Array[Double]((e - st) * 2)
        var i = st
        while (i < e) { flat((i - st) * 2) = layer.xx(i); flat((i - st) * 2 + 1) = layer.yy(i); i += 1 }
        (layer.shapeKeys(layer.ringShape(r)), r.toLong, flat)
      }.toDF("poly_key", "ring_id", "ring")
      val clipUdf = udf { (flat: Seq[Double]) =>
        val c = graft.geom.RectClip.clipRing(flat.toArray, 25.0, 25.0, 75.0, 75.0)
        c.length / 2
      }
      val areaUdf = udf { (flat: Seq[Double]) =>
        math.floor(graft.geom.RectClip.clippedArea(flat.toArray, 25.0, 25.0, 75.0, 75.0) * 1000000.0).toLong
      }
      rows.select(col("poly_key"), col("ring_id"),
          clipUdf(col("ring")).cast("long").as("n_clipped_vertices"),
          areaUdf(col("ring")).as("area_int"))
        .orderBy("ring_id")
    })(
      clipRectSql),

    // -clip (polygon vs polygon, mosaic engine): cell squares clipped by a
    // rectangle — intersection areas have a closed form, so the full overlay
    // kernel is DuckDB-verified end to end
    query("q_clip_poly")((s, dir) => {
      val squares = points(s, dir)
        .select(floor(col("x") / 10.0).cast("long").as("cx"),
          floor(col("y") / 10.0).cast("long").as("cy"))
        .distinct()
      val ringUdf = udf { (cx: Long, cy: Long) =>
        val x = cx * 10.0; val y = cy * 10.0
        Array(x, y, x + 10, y, x + 10, y + 10, x, y + 10, x, y)
      }
      val clipRect = Seq(Array(15.0, 15.0, 65.0, 15.0, 65.0, 65.0, 15.0, 65.0, 15.0, 15.0))
      OverlayOp.clipRows(s,
          squares.withColumn("ring", ringUdf(col("cx"), col("cy")))
            .withColumn("sq_id", col("cx") * 100 + col("cy")),
          "sq_id", "ring", clipRect)
        .select(col("sq_id"),
          col("n_rings").cast("long").as("n_rings"),
          floor(col("clip_area") * 1000000.0).cast("long").as("area_int"))
        .orderBy("sq_id")
    })(
      s"""WITH $ptsSql,
         |cells AS (SELECT DISTINCT CAST(floor(x / 10.0) AS BIGINT) AS cx,
         |    CAST(floor(y / 10.0) AS BIGINT) AS cy FROM pts),
         |ov AS (
         |  SELECT cx * 100 + cy AS sq_id,
         |    greatest(least(CAST(cx * 10 + 10 AS DOUBLE), 65.0) - greatest(CAST(cx * 10 AS DOUBLE), 15.0), 0.0) *
         |    greatest(least(CAST(cy * 10 + 10 AS DOUBLE), 65.0) - greatest(CAST(cy * 10 AS DOUBLE), 15.0), 0.0) AS a
         |  FROM cells)
         |SELECT sq_id, CAST(CASE WHEN a > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_rings,
         |  CAST(floor(a * 1000000.0) AS BIGINT) AS area_int
         |FROM ov ORDER BY sq_id""".stripMargin),

    // -erase (polygon): same squares, area outside the rectangle
    query("q_erase_poly")((s, dir) => {
      val squares = points(s, dir)
        .select(floor(col("x") / 10.0).cast("long").as("cx"),
          floor(col("y") / 10.0).cast("long").as("cy"))
        .distinct()
      val ringUdf = udf { (cx: Long, cy: Long) =>
        val x = cx * 10.0; val y = cy * 10.0
        Array(x, y, x + 10, y, x + 10, y + 10, x, y + 10, x, y)
      }
      val clipRect = Seq(Array(15.0, 15.0, 65.0, 15.0, 65.0, 65.0, 15.0, 65.0, 15.0, 15.0))
      OverlayOp.clipRows(s,
          squares.withColumn("ring", ringUdf(col("cx"), col("cy")))
            .withColumn("sq_id", col("cx") * 100 + col("cy")),
          "sq_id", "ring", clipRect, erase = true)
        .select(col("sq_id"),
          floor(col("clip_area") * 1000000.0).cast("long").as("area_int"))
        .orderBy("sq_id")
    })(
      s"""WITH $ptsSql,
         |cells AS (SELECT DISTINCT CAST(floor(x / 10.0) AS BIGINT) AS cx,
         |    CAST(floor(y / 10.0) AS BIGINT) AS cy FROM pts),
         |ov AS (
         |  SELECT cx * 100 + cy AS sq_id,
         |    greatest(least(CAST(cx * 10 + 10 AS DOUBLE), 65.0) - greatest(CAST(cx * 10 AS DOUBLE), 15.0), 0.0) *
         |    greatest(least(CAST(cy * 10 + 10 AS DOUBLE), 65.0) - greatest(CAST(cy * 10 AS DOUBLE), 15.0), 0.0) AS a
         |  FROM cells)
         |SELECT sq_id, CAST(floor((100.0 - a) * 1000000.0) AS BIGINT) AS area_int
         |FROM ov ORDER BY sq_id""".stripMargin),

    // -dissolve2 (robust mosaic dissolve of OVERLAPPING shapes): side-15
    // squares at cell origins overlap their neighbors; per-group union area
    query("q_dissolve2")((s, dir) => {
      val squares = points(s, dir)
        .select(floor(col("x") / 10.0).cast("long").as("cx"),
          floor(col("y") / 10.0).cast("long").as("cy"))
        .distinct()
        .withColumn("g", (col("cx") + col("cy")) % 2)
      val ringUdf = udf { (cx: Long, cy: Long) =>
        val x = cx * 10.0; val y = cy * 10.0
        Array(x, y, x + 15, y, x + 15, y + 15, x, y + 15, x, y)
      }
      // 15x15 squares on a 10-grid keep every edge on the 5-lattice, so the
      // per-group union area mirrors exactly as 25 x (covered 5x5 cells);
      // ring structure is oracle-covered by q_dissolve2_rect/q_dissolve2_rules
      OverlayOp.dissolve2(s, squares.withColumn("ring", ringUdf(col("cx"), col("cy"))), "g", "ring")
        .select(col("group"), col("n_shapes_in"),
          floor(col("area") * 1000.0).cast("long").as("area_int"))
        .orderBy("group")
    })(
      // grouped robust dissolve at the real query's scale: 15x15 squares on a
      // 10-grid keep all edges on the 5-lattice, so the per-group union area
      // is exactly 25 x (covered 5x5 lattice cells)
      s"""WITH $ptsSql,
         |sq AS (SELECT DISTINCT CAST(floor(x / 10.0) AS BIGINT) AS cx,
         |    CAST(floor(y / 10.0) AS BIGINT) AS cy FROM pts),
         |g AS (SELECT cx, cy, (cx + cy) % 2 AS grp FROM sq),
         |cov AS (SELECT DISTINCT grp, cx * 2 + du.i AS u, cy * 2 + dv.i AS v
         |  FROM g CROSS JOIN range(0, 3) du(i) CROSS JOIN range(0, 3) dv(i)),
         |a AS (SELECT grp, count(*) AS ncell FROM cov GROUP BY grp),
         |n AS (SELECT grp, count(*) AS nsq FROM g GROUP BY grp)
         |SELECT n.grp AS "group", CAST(n.nsq AS BIGINT) AS n_shapes_in,
         |  CAST(a.ncell * 25 * 1000 AS BIGINT) AS area_int
         |FROM n JOIN a USING (grp) ORDER BY "group"""".stripMargin),

    // -buffer: point buffers (regular 32-gon rings); oracle = closed-form
    // regular-polygon area n*r^2*sin(2pi/n)/2
    query("q_buffer")((s, dir) => {
      val ringAreaUdf = udf { (x: Double, y: Double, r: Double) =>
        val ring = Buffer.pointBufferRing(x, y, r, 32)
        val n = ring.length / 2
        val xs = Array.tabulate(n)(i => ring(i * 2))
        val ys = Array.tabulate(n)(i => ring(i * 2 + 1))
        graft.geom.Geom.signedRingArea(xs, ys, 0, n)
      }
      points(s, dir)
        .withColumn("r", (col("id") % 3 + 1).cast("double"))
        .select(col("id"),
          floor(ringAreaUdf(col("x"), col("y"), col("r")) * 1000.0).cast("long").as("area_int"))
        .orderBy("id")
    })(
      s"""WITH $ptsSql
         |SELECT id, CAST(floor(
         |  32.0 * CAST((id % 3 + 1) * (id % 3 + 1) AS DOUBLE) * sin(2.0 * pi() / 32.0) / 2.0
         |  * 1000.0) AS BIGINT) AS area_int
         |FROM pts ORDER BY id""".stripMargin),

    // -cluster: greedy centroid agglomeration of the oracle layer (k=3)
    // (rows-only; the greedy kernel is exactly oracle-verified by
    // q_cluster_greedy)
    // -snap: ulp-scaled lattice quantization (interval 2^ceil(log2 max)/2^51)
    // — output is the exact integer lattice index per coordinate, through
    // the real Geom.snap kernel (rint half-even mirrored by a CASE)
    query("q_snap")((s, dir) => {
      val pts = points(s, dir)
      val mx = pts.agg(max(greatest(abs(col("x")), abs(col("y"))))).head().getDouble(0)
      val ival = graft.geom.Geom.snapInterval(mx)
      val kUdf = udf((v: Double) => (graft.geom.Geom.snap(v, ival) / ival).toLong)
      pts.select(col("id"), kUdf(col("x")).as("kx"), kUdf(col("y")).as("ky"))
        .orderBy("id")
    })(
      // lattice indices: interval re-derived from the data max; rint's
      // half-even tie handled by the parity CASE (f odd -> f+1)
      s"""WITH $ptsSql,
         |mx AS (SELECT max(greatest(abs(x), abs(y))) AS m FROM pts),
         |iv AS (SELECT power(2.0, ceil(ln(m) / ln(2.0))) / power(2.0, 51.0) AS ival
         |  FROM mx),
         |r AS (SELECT id, x / ival AS rx, y / ival AS ry FROM pts, iv)
         |SELECT id,
         |  CAST(CASE WHEN rx - floor(rx) > 0.5 THEN floor(rx) + 1
         |            WHEN rx - floor(rx) < 0.5 THEN floor(rx)
         |            ELSE floor(rx) + abs(CAST(floor(rx) AS BIGINT)) % 2 END AS BIGINT) AS kx,
         |  CAST(CASE WHEN ry - floor(ry) > 0.5 THEN floor(ry) + 1
         |            WHEN ry - floor(ry) < 0.5 THEN floor(ry)
         |            ELSE floor(ry) + abs(CAST(floor(ry) AS BIGINT)) % 2 END AS BIGINT) AS ky
         |FROM r ORDER BY id""".stripMargin),

    // distributed clip/erase of a target LAYER vs a clip LAYER — per-target
    // areas have the inclusion-exclusion closed form |T ∩ (A∪B∪C)|
    query("q_clip_layer")((s, dir) => {
      import s.implicits._
      val clips = polyJoinSources.map { case (k, shape) => (k, shape.head) }
        .toDF("key", "ring")
      val clipped = OverlayOp.clipLayerDistributed(s, polyJoinTargetsDf(s, dir), clips)
        .select(col("t_key"), round(col("area") * 100.0, 0).cast("long").as("clip_int"))
      val erased = OverlayOp.clipLayerDistributed(s, polyJoinTargetsDf(s, dir), clips,
          erase = true)
        .select(col("t_key").as("e_key"), round(col("area") * 100.0, 0).cast("long").as("erase_int"))
      clipped.join(erased, clipped("t_key") === erased("e_key"), "full")
        .select(coalesce(col("t_key"), col("e_key")).as("t_key"),
          coalesce(col("clip_int"), lit(0L)).as("clip_int"),
          coalesce(col("erase_int"), lit(0L)).as("erase_int"))
        .orderBy("t_key")
    })(
      s"""WITH $ptsSql,
         |cells AS (SELECT DISTINCT CAST(floor(x / 10.0) AS BIGINT) AS cx,
         |    CAST(floor(y / 10.0) AS BIGINT) AS cy FROM pts),
         |t AS (SELECT cx * 100 + cy AS t_key,
         |  CAST(cx * 10 AS DOUBLE) AS tx1, CAST(cy * 10 AS DOUBLE) AS ty1,
         |  CAST(cx * 10 + 10 AS DOUBLE) AS tx2, CAST(cy * 10 + 10 AS DOUBLE) AS ty2
         |  FROM cells),
         |ov AS (SELECT t_key,
         |  greatest(least(tx2, 55) - greatest(tx1, 5), 0) * greatest(least(ty2, 55) - greatest(ty1, 5), 0) AS a,
         |  greatest(least(tx2, 95) - greatest(tx1, 45), 0) * greatest(least(ty2, 75) - greatest(ty1, 25), 0) AS b,
         |  greatest(least(tx2, 75) - greatest(tx1, 25), 0) * greatest(least(ty2, 95) - greatest(ty1, 45), 0) AS c,
         |  greatest(least(least(tx2, 55), 95) - greatest(greatest(tx1, 5), 45), 0) *
         |    greatest(least(least(ty2, 55), 75) - greatest(greatest(ty1, 5), 25), 0) AS ab,
         |  greatest(least(least(tx2, 55), 75) - greatest(greatest(tx1, 5), 25), 0) *
         |    greatest(least(least(ty2, 55), 95) - greatest(greatest(ty1, 5), 45), 0) AS ac,
         |  greatest(least(least(tx2, 95), 75) - greatest(greatest(tx1, 45), 25), 0) *
         |    greatest(least(least(ty2, 75), 95) - greatest(greatest(ty1, 25), 45), 0) AS bc,
         |  greatest(least(least(least(tx2, 55), 95), 75) - greatest(greatest(greatest(tx1, 5), 45), 25), 0) *
         |    greatest(least(least(least(ty2, 55), 75), 95) - greatest(greatest(greatest(ty1, 5), 25), 45), 0) AS abc
         |  FROM t)
         |SELECT t_key,
         |  CAST(round((a + b + c - ab - ac - bc + abc) * 100.0) AS BIGINT) AS clip_int,
         |  CAST(round((100.0 - (a + b + c - ab - ac - bc + abc)) * 100.0) AS BIGINT) AS erase_int
         |FROM ov ORDER BY t_key""".stripMargin),

    // robust dissolve2 against a closed form: per group, three overlapping
    // axis-aligned rectangles whose union area has the inclusion-exclusion
    // closed form — the full mosaic kernel (snap/cut/trace/classify) is
    // DuckDB-verified on 50 distinct overlap configurations
    query("q_dissolve2_rect")((s, dir) => {
      val g = col("g"); val i = col("i")
      val x0 = (g * (i * 2 + 3) % 13).cast("double")
      val y0 = (g * (i * 3 + 5) % 17).cast("double")
      val groups = points(s, dir).select((col("id") % 50).as("g")).distinct()
        .withColumn("i", explode(array(lit(0), lit(1), lit(2))))
        .select(g, array(x0, y0, x0 + 10, y0, x0 + 10, y0 + 10, x0, y0 + 10, x0, y0).as("ring"))
      OverlayOp.dissolve2(s, groups, "g", "ring")
        .select(col("group"), round(col("area") * 100.0, 0).cast("long").as("area_int"))
        .orderBy("group")
    })(
      s"""WITH $ptsSql,
         |gs AS (SELECT DISTINCT id % 50 AS g FROM pts),
         |r AS (SELECT g,
         |  CAST(g * 3 % 13 AS DOUBLE) AS ax0, CAST(g * 5 % 17 AS DOUBLE) AS ay0,
         |  CAST(g * 5 % 13 AS DOUBLE) AS bx0, CAST(g * 8 % 17 AS DOUBLE) AS by0,
         |  CAST(g * 7 % 13 AS DOUBLE) AS cx0, CAST(g * 11 % 17 AS DOUBLE) AS cy0
         |  FROM gs),
         |ov AS (SELECT g,
         |  -- pairwise and triple overlaps of the three 10x10 rects
         |  greatest(least(ax0+10, bx0+10) - greatest(ax0, bx0), 0) *
         |  greatest(least(ay0+10, by0+10) - greatest(ay0, by0), 0) AS ab,
         |  greatest(least(ax0+10, cx0+10) - greatest(ax0, cx0), 0) *
         |  greatest(least(ay0+10, cy0+10) - greatest(ay0, cy0), 0) AS ac,
         |  greatest(least(bx0+10, cx0+10) - greatest(bx0, cx0), 0) *
         |  greatest(least(by0+10, cy0+10) - greatest(by0, cy0), 0) AS bc,
         |  greatest(least(least(ax0, bx0) + 10, cx0 + 10) - greatest(greatest(ax0, bx0), cx0), 0) *
         |  greatest(least(least(ay0, by0) + 10, cy0 + 10) - greatest(greatest(ay0, by0), cy0), 0) AS abc
         |  FROM r)
         |SELECT g AS "group",
         |  CAST(round((300.0 - ab - ac - bc + abc) * 100.0) AS BIGINT) AS area_int
         |FROM ov ORDER BY g""".stripMargin),

    // -dissolve2 overlap_rule=: three overlapping rects of distinct areas
    // (100/64/144) per family; the flat mosaic assigns each overlap region
    // to min-id / max-id / max-area / min-area winners — per-shape kept
    // areas have inclusion-exclusion closed forms, mirrored exactly
    query("q_dissolve2_rules")((s, dir) => {
      import s.implicits._
      val rules = Seq("min-id", "max-id", "max-area", "min-area")
      val kernel = udf { (g: Long) =>
        def rect(x0: Double, y0: Double, w: Double): Array[Double] =
          Array(x0, y0, x0 + w, y0, x0 + w, y0 + w, x0, y0 + w, x0, y0)
        val shapes: Seq[Overlay.Shape] = Seq(
          Seq(rect((g * 3 % 13).toDouble, (g * 5 % 17).toDouble, 10.0)),
          Seq(rect((g * 5 % 13).toDouble, (g * 8 % 17).toDouble, 8.0)),
          Seq(rect((g * 7 % 13).toDouble, (g * 11 % 17).toDouble, 12.0)))
        rules.flatMap { r =>
          val out = Overlay.dissolve2ByGroup(shapes, Seq(0L, 1L, 2L), r)
          (0 to 2).map(i => (r, i.toLong,
            math.round(Overlay.layerArea(out.getOrElse(i.toLong, Nil)) * 100.0)))
        }
      }
      points(s, dir).select((col("id") % 50).as("g")).distinct()
        .withColumn("rsa", explode(kernel(col("g"))))
        .select(col("g"), col("rsa._1").as("rule"), col("rsa._2").as("shape"),
          col("rsa._3").as("area_int"))
        .orderBy("g", "rule", "shape")
    }) {
      // overlap_rule variants: per-shape kept areas have inclusion-exclusion
      // closed forms; shapes 0/1/2 have areas 100/64/144 so every rule picks a
      // different overlap winner (min-id: 0; max-id: 2; max-area: 2>0>1;
      // min-area: 1<0<2)
      def ov(x1: String, y1: String, w1: String, x2: String, y2: String, w2: String) =
        s"greatest(least($x1 + $w1, $x2 + $w2) - greatest($x1, $x2), 0) * " +
          s"greatest(least($y1 + $w1, $y2 + $w2) - greatest($y1, $y2), 0)"
      val rows = Seq(
        // rule -> (a0, a1, a2) in terms of p01/p02/p12/t (pairwise/triple ov)
        ("max-area", Seq("100.0 - p02", "64.0 - p01 - p12 + t", "144.0")),
        ("max-id",   Seq("100.0 - p01 - p02 + t", "64.0 - p12", "144.0")),
        ("min-area", Seq("100.0 - p01", "64.0", "144.0 - p02 - p12 + t")),
        ("min-id",   Seq("100.0", "64.0 - p01", "144.0 - p02 - p12 + t"))
      ).flatMap { case (rule, as) =>
        as.zipWithIndex.map { case (a, i) =>
          s"SELECT g, '$rule' AS rule, CAST($i AS BIGINT) AS shape, " +
            s"CAST(round(($a) * 100.0) AS BIGINT) AS area_int FROM ovs"
        }
      }.mkString("\nUNION ALL ")
      s"""WITH $ptsSql,
         |gs AS (SELECT DISTINCT id % 50 AS g FROM pts),
         |r AS (SELECT g,
         |  CAST(g * 3 % 13 AS DOUBLE) AS x0, CAST(g * 5 % 17 AS DOUBLE) AS y0,
         |  CAST(g * 5 % 13 AS DOUBLE) AS x1, CAST(g * 8 % 17 AS DOUBLE) AS y1,
         |  CAST(g * 7 % 13 AS DOUBLE) AS x2, CAST(g * 11 % 17 AS DOUBLE) AS y2
         |  FROM gs),
         |ovs AS (SELECT g,
         |  ${ov("x0", "y0", "10.0", "x1", "y1", "8.0")} AS p01,
         |  ${ov("x0", "y0", "10.0", "x2", "y2", "12.0")} AS p02,
         |  ${ov("x1", "y1", "8.0", "x2", "y2", "12.0")} AS p12,
         |  greatest(least(least(x0 + 10.0, x1 + 8.0), x2 + 12.0)
         |    - greatest(greatest(x0, x1), x2), 0) *
         |  greatest(least(least(y0 + 10.0, y1 + 8.0), y2 + 12.0)
         |    - greatest(greatest(y0, y1), y2), 0) AS t
         |  FROM r)
         |SELECT * FROM ($rows) ORDER BY g, rule, shape""".stripMargin
    },

    // -dissolve2 gap_fill_area= (ref mapshaper-polygon-dissolve2.mjs:85-92 +
    // MosaicIndex.removeGaps): 50 picture-frame families — four overlapping
    // wall rects enclose a central h x h gap; dyadic h values keep h^2 exact,
    // so "filled iff h^2 < 2.0" and the output area/ring count are closed
    // forms (frame 10x10: filled -> area 100, 1 ring; kept gap -> 100 - h^2,
    // 2 rings).
    query("q_dissolve2_gaps")((s, dir) => {
      val kernel = udf { (g: Long) =>
        val w = 10.0
        val a = (g * 3 % 4).toDouble + 2.0
        val h = 0.25 + (g % 5).toDouble * 0.375
        val shapes: Seq[Overlay.Shape] = Seq(
          Seq(oRect(0, 0, w, a)),            // bottom wall (up to gap)
          Seq(oRect(0, a + h, w, w - a - h)), // top wall
          Seq(oRect(0, 0, a, w)),            // left wall
          Seq(oRect(a + h, 0, w - a - h, w))) // right wall
        val out = Overlay.dissolve2GapFill(shapes, gapFillArea = 2.0)
        (out.length.toLong, math.round(Overlay.layerArea(out) * 100.0))
      }
      points(s, dir).select((col("id") % 50).as("g")).distinct()
        .withColumn("r", kernel(col("g")))
        .select(col("g"), col("r._1").as("n_rings"), col("r._2").as("area_int"))
        .orderBy("g")
    })(
      // -union: inclusion-exclusion area of the two-rect coverage + the
      // connectivity count (1 ring iff the overlap is strictly positive in
      // both axes; the +0.5 dyadic offset on B rules out exact edge touches)
      // picture-frame gap fill: filled iff h^2 < threshold; h dyadic -> exact
      s"""WITH $ptsSql,
         |gs AS (SELECT DISTINCT id % 50 AS g FROM pts),
         |r AS (SELECT g, 2.5e-1 + CAST(g % 5 AS DOUBLE) * 3.75e-1 AS h FROM gs)
         |SELECT g,
         |  CAST(CASE WHEN h * h < 2.0 THEN 1 ELSE 2 END AS BIGINT) AS n_rings,
         |  CAST(round((100.0 - CASE WHEN h * h < 2.0 THEN 0.0 ELSE h * h END) * 100.0) AS BIGINT) AS area_int
         |FROM r ORDER BY g""".stripMargin),

    // -union (ref mapshaper-union.mjs:9): two-layer coverage union through
    // the full mosaic kernel (snap/cut/trace/classify/dissolve), validated
    // on 50 two-rect families against inclusion-exclusion area + the
    // connectivity count. B carries a dyadic +0.5 offset so every pair is
    // STRICTLY overlapping or strictly separated — no knife-edge touches.
    query("q_union")((s, dir) => {
      val kernel = udf { (g: Long) =>
        val out = Overlay.union(
          Seq(Seq(oRect((g * 3 % 13).toDouble, (g * 5 % 17).toDouble, 10.0, 10.0))),
          Seq(Seq(oRect((g * 5 % 13).toDouble + 0.5, (g * 8 % 17).toDouble + 0.5, 8.0, 8.0))))
        (out.length.toLong, math.round(Overlay.layerArea(out) * 100.0))
      }
      points(s, dir).select((col("id") % 50).as("g")).distinct()
        .withColumn("r", kernel(col("g")))
        .select(col("g"), col("r._1").as("n_rings"), col("r._2").as("area_int"))
        .orderBy("g")
    })(
      s"""WITH $ptsSql,
         |gs AS (SELECT DISTINCT id % 50 AS g FROM pts),
         |r AS (SELECT g,
         |  CAST(g * 3 % 13 AS DOUBLE) AS ax, CAST(g * 5 % 17 AS DOUBLE) AS ay,
         |  CAST(g * 5 % 13 AS DOUBLE) + 5.0e-1 AS bx, CAST(g * 8 % 17 AS DOUBLE) + 5.0e-1 AS by
         |  FROM gs),
         |o AS (SELECT g,
         |  least(ax + 10.0, bx + 8.0) - greatest(ax, bx) AS wx,
         |  least(ay + 10.0, by + 8.0) - greatest(ay, by) AS wy FROM r)
         |SELECT g,
         |  CAST(CASE WHEN wx > 0 AND wy > 0 THEN 1 ELSE 2 END AS BIGINT) AS n_rings,
         |  CAST(round((164.0 - greatest(wx, 0) * greatest(wy, 0)) * 100.0) AS BIGINT) AS area_int
         |FROM o ORDER BY g""".stripMargin),

    // -mosaic (ref mapshaper-mosaic.mjs:10-59): tiles of the 3-layer
    // arrangement, observed as total area per layer-membership mask — each
    // Venn cell has an inclusion-exclusion closed form. Dyadic offsets
    // (0 / 0.5 / 0.25) keep every pairwise AND triple overlap width nonzero.
    query("q_mosaic")((s, dir) => {
      val kernel = udf { (g: Long) =>
        val m = Overlay.mosaic(Seq(
          Seq(oRect((g * 3 % 13).toDouble, (g * 5 % 17).toDouble, 10.0, 10.0)),
          Seq(oRect((g * 5 % 13).toDouble + 0.5, (g * 8 % 17).toDouble + 0.5, 8.0, 8.0)),
          Seq(oRect((g * 7 % 13).toDouble + 0.25, (g * 11 % 17).toDouble + 0.25, 12.0, 12.0))))
        m.faces.groupBy { f =>
          (if (f.inLayer(0)) 1 else 0) | (if (f.inLayer(1)) 2 else 0) |
            (if (f.inLayer(2)) 4 else 0)
        }.toSeq.map { case (mask, fs) =>
          (mask.toLong, math.round(fs.map(Overlay.faceArea).sum * 10000.0))
        }
      }
      points(s, dir).select((col("id") % 50).as("g")).distinct()
        .withColumn("ma", explode(kernel(col("g"))))
        .select(col("g"), col("ma._1").as("mask"), col("ma._2").as("area_int"))
        .orderBy("g", "mask")
    })(
      // -mosaic: per-membership-mask tile areas — every Venn cell of the
      // 3-rect arrangement has an inclusion-exclusion closed form; only
      // nonempty cells appear (areas are dyadic-exact so > 0 is exact)
      s"""WITH $ptsSql,
         |$mosaicOvSql,
         |m AS (
         |  SELECT g, 1 AS mask, 100.0 - pab - pac + t AS area FROM ov UNION ALL
         |  SELECT g, 2, 64.0 - pab - pbc + t FROM ov UNION ALL
         |  SELECT g, 3, pab - t FROM ov UNION ALL
         |  SELECT g, 4, 144.0 - pac - pbc + t FROM ov UNION ALL
         |  SELECT g, 5, pac - t FROM ov UNION ALL
         |  SELECT g, 6, pbc - t FROM ov UNION ALL
         |  SELECT g, 7, t FROM ov)
         |SELECT g, CAST(mask AS BIGINT) AS mask,
         |  CAST(round(area * 10000.0) AS BIGINT) AS area_int
         |FROM m WHERE area > 0 ORDER BY g, mask""".stripMargin),

    // -clean (ref mapshaper-clean.mjs:18-112): every mosaic tile assigned to
    // exactly one claimant per overlap rule, shapes rebuilt index-aligned —
    // per-shape kept areas have inclusion-exclusion closed forms (areas
    // 100/64/144 make every rule pick a different overlap winner).
    query("q_clean")((s, dir) => {
      import s.implicits._
      val rules = Seq("max-area", "max-id", "min-area", "min-id")
      val kernel = udf { (g: Long) =>
        val shapes: Seq[Overlay.Shape] = Seq(
          Seq(oRect((g * 3 % 13).toDouble, (g * 5 % 17).toDouble, 10.0, 10.0)),
          Seq(oRect((g * 5 % 13).toDouble + 0.5, (g * 8 % 17).toDouble + 0.5, 8.0, 8.0)),
          Seq(oRect((g * 7 % 13).toDouble + 0.25, (g * 11 % 17).toDouble + 0.25, 12.0, 12.0)))
        rules.flatMap { r =>
          Overlay.clean(shapes, r).zipWithIndex.map { case (rings, i) =>
            (r, i.toLong, math.round(Overlay.layerArea(rings) * 10000.0))
          }
        }
      }
      points(s, dir).select((col("id") % 50).as("g")).distinct()
        .withColumn("rsa", explode(kernel(col("g"))))
        .select(col("g"), col("rsa._1").as("rule"), col("rsa._2").as("shape"),
          col("rsa._3").as("area_int"))
        .orderBy("g", "rule", "shape")
    }) {
      // -clean: per-shape kept areas under each overlap rule (shape areas
      // 100/64/144 make every rule pick a different overlap winner; ties
      // cannot occur). Same claim logic as q_dissolve2_rules, but through
      // Overlay.clean's index-aligned rebuild.
      val rows = Seq(
        ("max-area", Seq("100.0 - pac", "64.0 - pab - pbc + t", "144.0")),
        ("max-id",   Seq("100.0 - pab - pac + t", "64.0 - pbc", "144.0")),
        ("min-area", Seq("100.0 - pab", "64.0", "144.0 - pac - pbc + t")),
        ("min-id",   Seq("100.0", "64.0 - pab", "144.0 - pac - pbc + t"))
      ).flatMap { case (rule, as) =>
        as.zipWithIndex.map { case (a, i) =>
          s"SELECT g, '$rule' AS rule, CAST($i AS BIGINT) AS shape, " +
            s"CAST(round(($a) * 10000.0) AS BIGINT) AS area_int FROM ov"
        }
      }.mkString("\nUNION ALL ")
      s"""WITH $ptsSql,
         |$mosaicOvSql
         |SELECT * FROM ($rows) ORDER BY g, rule, shape""".stripMargin
    },

    // -polygons / polygonize (ref mapshaper-polygons.mjs:14-40): bounded
    // faces of a line arrangement. A deterministic n x m grid of full-span
    // lines with varying column widths / row heights gives closed forms for
    // the face count, total area, and the sum of squared face areas
    // (= sum(w^2) * sum(h^2)).
    query("q_polygonize")((s, dir) => {
      val kernel = udf { (g: Long) =>
        val n = (g % 3 + 2).toInt
        val m = (g % 2 + 2).toInt
        val ws = (1 to n).map(i => ((g + 7 * i) % 4 + 1).toDouble)
        val hs = (1 to m).map(j => ((g + 5 * j) % 3 + 1).toDouble)
        val xs = ws.scanLeft(0.0)(_ + _)
        val ys = hs.scanLeft(0.0)(_ + _)
        val lines = xs.map(x => Array(x, 0.0, x, ys.last)) ++
          ys.map(y => Array(0.0, y, xs.last, y))
        val areas = Buffer.polygonize(lines).map(Overlay.faceArea)
        (areas.length.toLong, math.round(areas.sum * 100.0),
          math.round(areas.map(a => a * a).sum))
      }
      points(s, dir).select((col("id") % 50).as("g")).distinct()
        .withColumn("r", kernel(col("g")))
        .select(col("g"), col("r._1").as("n_faces"), col("r._2").as("area_int"),
          col("r._3").as("sq_sum"))
        .orderBy("g")
    })(
      // -polygons: an n x m grid of full-span lines has n*m bounded faces;
      // total area = sum(w) * sum(h), sum of squared face areas factorizes
      // as sum(w^2) * sum(h^2)
      s"""WITH $ptsSql,
         |gs AS (SELECT DISTINCT id % 50 AS g FROM pts),
         |dims AS (SELECT g, g % 3 + 2 AS n, g % 2 + 2 AS m FROM gs),
         |ws AS (SELECT g, CAST((g + 7 * i.i) % 4 + 1 AS DOUBLE) AS w
         |  FROM dims CROSS JOIN range(1, 5) i(i) WHERE i.i <= n),
         |hs AS (SELECT g, CAST((g + 5 * j.j) % 3 + 1 AS DOUBLE) AS h
         |  FROM dims CROSS JOIN range(1, 4) j(j) WHERE j.j <= m),
         |wa AS (SELECT g, sum(w) AS sw, sum(w * w) AS sw2 FROM ws GROUP BY g),
         |ha AS (SELECT g, sum(h) AS sh, sum(h * h) AS sh2 FROM hs GROUP BY g)
         |SELECT d.g AS g, CAST(d.n * d.m AS BIGINT) AS n_faces,
         |  CAST(round(wa.sw * ha.sh * 100.0) AS BIGINT) AS area_int,
         |  CAST(round(wa.sw2 * ha.sh2) AS BIGINT) AS sq_sum
         |FROM dims d JOIN wa ON wa.g = d.g JOIN ha ON ha.g = d.g
         |ORDER BY g""".stripMargin),

    // -divide (ref mapshaper-divide.mjs:20-40): polyline cut at polygon
    // boundaries, pieces tagged inside/outside. A 4-segment horizontal line
    // through a width-w rect has closed-form piece counts and lengths on
    // both sides (cut points land at x=0 — a line vertex — and x=w).
    query("q_divide")((s, dir) => {
      val kernel = udf { (g: Long) =>
        val w = (g % 8 + 2).toDouble
        val h = (g % 5 + 1).toDouble
        val c = h / 2.0
        val line = Array(-5.0, c, 0.0, c, 5.0, c, 10.0, c, 15.0, c)
        val poly = Seq(oRect(0.0, 0.0, w, h))
        Buffer.divideLine(line, poly).groupBy(_._2).toSeq.map { case (inside, ps) =>
          (inside, ps.length.toLong,
            math.round(ps.map(p => math.abs(p._1(2) - p._1(0))).sum * 100.0))
        }
      }
      points(s, dir).select((col("id") % 50).as("g")).distinct()
        .withColumn("r", explode(kernel(col("g"))))
        .select(col("g"), col("r._1").as("inside"), col("r._2").as("n_pieces"),
          col("r._3").as("len_int"))
        .orderBy("g", "inside")
    })(
      // -divide: piece counts and lengths on each side of the rect boundary
      // (cuts land at x = 0, a line vertex, and x = w; breakpoints at
      // -5/0/5/10/15 give the piece-count case split)
      s"""WITH $ptsSql,
         |gs AS (SELECT DISTINCT id % 50 AS g FROM pts),
         |p AS (SELECT g, CAST(g % 8 + 2 AS DOUBLE) AS w FROM gs),
         |u AS (
         |  SELECT g, TRUE AS inside,
         |    CAST(CASE WHEN w > 5 THEN 2 ELSE 1 END AS BIGINT) AS n_pieces,
         |    CAST(round(w * 100.0) AS BIGINT) AS len_int FROM p
         |  UNION ALL
         |  SELECT g, FALSE,
         |    CAST(CASE WHEN w < 5 THEN 4 ELSE 3 END AS BIGINT),
         |    CAST(round((20.0 - w) * 100.0) AS BIGINT) FROM p)
         |SELECT g, inside, n_pieces, len_int FROM u ORDER BY g, inside""".stripMargin),

    // -inlay (ref mapshaper-inlay.mjs:7 — erase + union): 6x6 inlay swept
    // across a 12x12 base through disjoint / overlapping / contained /
    // edge-touching positions; coverage area is inclusion-exclusion and the
    // output ring count is 2 only when strictly disjoint (touching merges,
    // a contained inlay's hole boundary cancels against the inlay ring).
    query("q_inlay")((s, dir) => {
      val kernel = udf { (g: Long) =>
        val dx = (g % 5 * 5 - 8).toDouble
        val out = Overlay.inlay(
          Seq(Seq(oRect(0.0, 0.0, 12.0, 12.0))),
          Seq(Seq(oRect(dx, 3.0, 6.0, 6.0))))
        (out.length.toLong, math.round(Overlay.layerArea(out) * 100.0))
      }
      points(s, dir).select((col("id") % 50).as("g")).distinct()
        .withColumn("r", kernel(col("g")))
        .select(col("g"), col("r._1").as("n_rings"), col("r._2").as("area_int"))
        .orderBy("g")
    })(
      // -inlay: coverage area is inclusion-exclusion; ring count is 2 only in
      // the strictly-disjoint position (g % 5 = 0 -> dx = -8); the
      // edge-touching dx = 12 position merges via exact shared-edge cancel
      s"""WITH $ptsSql,
         |gs AS (SELECT DISTINCT id % 50 AS g FROM pts),
         |p AS (SELECT g, CAST(g % 5 * 5 - 8 AS DOUBLE) AS dx FROM gs),
         |o AS (SELECT g, dx,
         |  greatest(least(12.0, dx + 6.0) - greatest(0.0, dx), 0) * 6.0 AS ov FROM p)
         |SELECT g,
         |  CAST(CASE WHEN g % 5 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_rings,
         |  CAST(round((180.0 - ov) * 100.0) AS BIGINT) AS area_int
         |FROM o ORDER BY g""".stripMargin),

    // -stitch (ref mapshaper-stitch.mjs:12-60): a polygon cut at the
    // antimeridian (east piece ending at lon 180, west piece starting at
    // -180) is re-merged — the west piece shifts +360 and the duplicate cut
    // edge cancels in the dissolve; an untouched control ring rides along.
    // Output rings sorted by min lon for a deterministic rank.
    query("q_stitch")((s, dir) => {
      val kernel = udf { (g: Long) =>
        val h = (g % 5 + 1).toDouble
        val y0 = (g % 7).toDouble
        val w1 = (g % 4 + 3).toDouble
        val w2 = (g % 3 + 2).toDouble
        val east = oRect(180.0 - w1, y0, w1, h)
        val west = oRect(-180.0, y0, w2, h)
        val ctrl = oRect(-60.0 + (g % 20).toDouble, y0, 5.0, h)
        val out = Stitch.antimeridian(Seq(east, west, ctrl))
        out.map { r =>
          var mn = Double.MaxValue; var mx = Double.MinValue
          var i = 0
          while (i < r.length) {
            mn = math.min(mn, r(i)); mx = math.max(mx, r(i)); i += 2
          }
          (math.round(Overlay.layerArea(Seq(r)) * 100.0),
            math.round(mn * 100.0), math.round(mx * 100.0))
        }.sortBy(_._2).zipWithIndex.map { case ((a, mn, mx), i) =>
          (i.toLong, a, mn, mx)
        }
      }
      points(s, dir).select((col("id") % 50).as("g")).distinct()
        .withColumn("r", explode(kernel(col("g"))))
        .select(col("g"), col("r._1").as("rk"), col("r._2").as("area_int"),
          col("r._3").as("lon_min_int"), col("r._4").as("lon_max_int"))
        .orderBy("g", "rk")
    })(
      // -stitch: the merged ring spans [180 - w1, 180 + w2] in the 0..360
      // frame (area (w1 + w2) * h); the control ring is untouched; rank is
      // by min lon so the control (far west) is always rank 0
      s"""WITH $ptsSql,
         |gs AS (SELECT DISTINCT id % 50 AS g FROM pts),
         |p AS (SELECT g,
         |  CAST(g % 5 + 1 AS DOUBLE) AS h,
         |  CAST(g % 4 + 3 AS DOUBLE) AS w1,
         |  CAST(g % 3 + 2 AS DOUBLE) AS w2,
         |  CAST(g % 20 AS DOUBLE) - 60.0 AS cx FROM gs),
         |u AS (
         |  SELECT g, CAST(0 AS BIGINT) AS rk,
         |    CAST(round(5.0 * h * 100.0) AS BIGINT) AS area_int,
         |    CAST(round(cx * 100.0) AS BIGINT) AS lon_min_int,
         |    CAST(round((cx + 5.0) * 100.0) AS BIGINT) AS lon_max_int FROM p
         |  UNION ALL
         |  SELECT g, CAST(1 AS BIGINT),
         |    CAST(round((w1 + w2) * h * 100.0) AS BIGINT),
         |    CAST(round((180.0 - w1) * 100.0) AS BIGINT),
         |    CAST(round((180.0 + w2) * 100.0) AS BIGINT) FROM p)
         |SELECT g, rk, area_int, lon_min_int, lon_max_int FROM u
         |ORDER BY g, rk""".stripMargin),

    // -slice: pairwise clip pieces per (target, source) — rect fixtures give
    // closed-form piece areas
    query("q_slice")((s, dir) => {
      import s.implicits._
      val sources = polyJoinSources.map { case (k, shape) => (k, shape.head) }
        .toDF("key", "ring")
      OverlayOp.slice(s, polyJoinTargetsDf(s, dir), sources)
        .select(col("t_key"), col("s_key"), col("n_rings"),
          floor(col("area") * 1000000.0).cast("long").as("area_int"))
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
         |SELECT t_key, CAST(s_key AS BIGINT) AS s_key, CAST(1 AS BIGINT) AS n_rings,
         |  CAST(floor(CAST(a AS DOUBLE) * 1000000.0) AS BIGINT) AS area_int
         |FROM ov WHERE a > 0 ORDER BY t_key, s_key""".stripMargin),

    // -clip on polylines: horizontal segments vs a rectangle polygon — the
    // clipped (inside) length has the closed form |[max(x,20), min(x+7,70)]|,
    // so the full divide-at-intersections kernel is DuckDB-verified
    query("q_clip_lines")((s, dir) => {
      val rect: Overlay.Shape =
        Seq(Array(20.0, 20.0, 70.0, 20.0, 70.0, 60.0, 20.0, 60.0, 20.0, 20.0))
      val lines = points(s, dir)
        .filter(col("y") =!= 20.0 && col("y") =!= 60.0 &&
          !col("x").isin(13.0, 20.0, 63.0, 70.0))
        .select(col("id"), array(col("x"), col("y"), col("x") + 7.0, col("y")).as("line"))
      // clipped lengths are mathematically k/1000-exact (3-decimal xs, integer
      // bounds): ROUND to the integer both engines are within 1e-9 of —
      // floor would flip on the aligned boundary
      LineOps.clipLines(s, lines, "id", "line", rect)
        .groupBy("id")
        .agg(round(sum(col("piece_len")) * 1000.0, 0).cast("long").as("len_int"))
        .orderBy("id")
    })(
      s"""WITH $ptsSql
         |SELECT id,
         |  CAST(round((least(x + 7.0, 70.0) - greatest(x, 20.0)) * 1000.0) AS BIGINT) AS len_int
         |FROM pts
         |WHERE y <> 20.0 AND y <> 60.0 AND x NOT IN (13.0, 20.0, 63.0, 70.0)
         |  AND y > 20.0 AND y < 60.0
         |  AND least(x + 7.0, 70.0) - greatest(x, 20.0) > 0.0
         |ORDER BY id""".stripMargin),

    // polyline->polygon join (reference: per-part path midpoints, PIP-joined)
    query("q_line_join")((s, dir) => {
      val lines = points(s, dir)
        .select(col("id"), array(col("x"), col("y"), col("x") + 5.0, col("y") + 3.0).as("line"))
      LineOps.joinToPolygons(s, lines, "id", "line", Synthetic.oracleLayer)
        .select(col("id"), col("poly_key"))
        .orderBy("id", "poly_key")
    })(
      s"""WITH $ptsSql,
         |$oracleEdgesSql,
         |mid AS (SELECT id, (1.0 - 0.5) * x + 0.5 * (x + 5.0) AS mx,
         |  (1.0 - 0.5) * y + 0.5 * (y + 3.0) AS my FROM pts),
         |hits AS (
         |  SELECT m.id, e.pk,
         |    SUM(CASE WHEN ((e.ex1 > m.mx) <> (e.ex2 > m.mx))
         |          AND e.ey1 + (m.mx - e.ex1) * (e.ey2 - e.ey1) / (e.ex2 - e.ex1) > m.my
         |        THEN 1 ELSE 0 END) AS crossings
         |  FROM mid m CROSS JOIN edges e
         |  GROUP BY m.id, e.pk)
         |SELECT id, CAST(pk AS BIGINT) AS poly_key FROM hits WHERE crossings % 2 = 1
         |ORDER BY id, poly_key""".stripMargin),

    // -buffer on polylines: capsule merge through the mosaic kernel; a single
    // horizontal segment's buffer area has the closed form 2 r L + 15 r^2 sin(pi/15)
    query("q_buffer_line")((s, dir) => {
      val areaUdf = udf { (x: Double, y: Double, len: Double, r: Double) =>
        Overlay.layerArea(Buffer.pathBuffer(Array(x, y, x + len, y), r, nSeg = 30))
      }
      points(s, dir)
        .withColumn("len", (col("id") % 5 + 2).cast("double"))
        .withColumn("r", (col("id") % 3 + 1).cast("double") / 2.0)
        .select(col("id"),
          floor(areaUdf(col("x"), col("y"), col("len"), col("r")) * 100.0)
            .cast("long").as("area_int"))
        .orderBy("id")
    })(
      s"""WITH $ptsSql
         |SELECT id, CAST(floor((2.0 * (CAST(id % 3 + 1 AS DOUBLE) / 2.0) * CAST(id % 5 + 2 AS DOUBLE)
         |  + 15.0 * (CAST(id % 3 + 1 AS DOUBLE) / 2.0) * (CAST(id % 3 + 1 AS DOUBLE) / 2.0) * sin(pi() / 15.0)) * 100.0)
         |  AS BIGINT) AS area_int
         |FROM pts ORDER BY id""".stripMargin),

    // -buffer on polygons: dilation (square: s^2 + 4 s r + n-gon) and erosion
    // ((s - 2r)^2) — both closed-form, mosaic-merge and erase kernels verified
    query("q_buffer_polygon")((s, dir) => {
      val dilUdf = udf { (x: Double, y: Double, r: Double) =>
        val sq: Overlay.Shape = Seq(Array(x, y, x + 6, y, x + 6, y + 6, x, y + 6, x, y))
        Overlay.layerArea(Buffer.polygonBuffer(sq, r, nSeg = 32))
      }
      val eroUdf = udf { (x: Double, y: Double, r: Double) =>
        val sq: Overlay.Shape = Seq(Array(x, y, x + 6, y, x + 6, y + 6, x, y + 6, x, y))
        Overlay.layerArea(Buffer.polygonBuffer(sq, -r, nSeg = 32))
      }
      points(s, dir)
        .withColumn("r", (col("id") % 3 + 1).cast("double") / 2.0)
        .select(col("id"),
          floor(dilUdf(col("x"), col("y"), col("r")) * 100.0).cast("long").as("dil_int"),
          // erosion areas are exact integers ((6-2r)^2 * 100) -> round, not floor
          round(eroUdf(col("x"), col("y"), col("r")) * 100.0, 0).cast("long").as("ero_int"))
        .orderBy("id")
    })(
      s"""WITH $ptsSql
         |SELECT id,
         |  CAST(floor((36.0 + 24.0 * (CAST(id % 3 + 1 AS DOUBLE) / 2.0)
         |    + 16.0 * (CAST(id % 3 + 1 AS DOUBLE) / 2.0) * (CAST(id % 3 + 1 AS DOUBLE) / 2.0) * sin(pi() / 16.0)) * 100.0)
         |    AS BIGINT) AS dil_int,
         |  CAST(round((6.0 - 2.0 * (CAST(id % 3 + 1 AS DOUBLE) / 2.0)) * (6.0 - 2.0 * (CAST(id % 3 + 1 AS DOUBLE) / 2.0))
         |    * 100.0) AS BIGINT) AS ero_int
         |FROM pts ORDER BY id""".stripMargin),

    // -data-fill: modal-neighbor contagion over a cell adjacency graph
    query("q_data_fill")((s, dir) => {
      val cells = points(s, dir)
        .select(floor(col("x") / 10.0).cast("long").as("cx"),
          floor(col("y") / 10.0).cast("long").as("cy"),
          col("id"))
        .groupBy("cx", "cy").agg(min(col("id")).as("min_id"))
        .withColumn("cell_id", col("cx") * 1000 + col("cy"))
        // label only cells whose min_id % 3 == 0; fill the rest from neighbors
        .withColumn("value", when(col("min_id") % 3 === 0,
          concat(lit("c"), (col("min_id") % 7).cast("string"))).otherwise(lit(null: String)))
      val adj = cells.as("a").join(cells.as("b"),
          (abs(col("a.cx") - col("b.cx")) + abs(col("a.cy") - col("b.cy"))) === 1 &&
            col("a.cell_id") < col("b.cell_id"))
        .select(col("a.cell_id").as("a"), col("b.cell_id").as("b"))
      DataFill.fill(s, cells.select(col("cell_id").as("id"), col("value")), adj)
        .orderBy("id")
    })(
      dataFillSql),

    // -data-fill weighted: border-length-weighted contagion with the
    // reference's value-set group pooling plus the smoothing pass. Nulls sit
    // on one checkerboard parity, so every donor vote resolves in one round
    // and the smoothing wavefront is a single simultaneous step — both
    // phases mirror exactly with integer edge weights.
    query("q_data_fill_weighted")((s, dir) => {
      val cells = points(s, dir)
        .select(floor(col("x") / 10.0).cast("long").as("cx"),
          floor(col("y") / 10.0).cast("long").as("cy"),
          col("id"))
        .groupBy("cx", "cy").agg(min(col("id")).as("min_id"))
        .withColumn("cell_id", col("cx") * 1000 + col("cy"))
        .withColumn("value", when((col("cx") + col("cy")) % 2 === 0,
          concat(lit("c"), (col("min_id") % 7).cast("string"))).otherwise(lit(null: String)))
      val adj = cells.as("a").join(cells.as("b"),
          (abs(col("a.cx") - col("b.cx")) + abs(col("a.cy") - col("b.cy"))) === 1 &&
            col("a.cell_id") < col("b.cell_id"))
        .select(col("a.cell_id").as("a"), col("b.cell_id").as("b"),
          (lit(1.0) + (col("a.cell_id") * 31 + col("b.cell_id") * 17) % 23).as("w"))
      DataFill.fillWeighted(s, cells.select(col("cell_id").as("id"), col("value")), adj)
        .orderBy("id")
    })(
      // weighted variant: checkerboard nulls resolve in ONE weighted pooled
      // round + one smoothing step (no null neighbors by parity), with exact
      // integer edge weights — both phases mirrored closed-form
      s"""WITH $ptsSql,
         |cells AS (SELECT CAST(floor(x / 10.0) AS BIGINT) AS cx,
         |    CAST(floor(y / 10.0) AS BIGINT) AS cy, min(id) AS min_id
         |  FROM pts GROUP BY 1, 2),
         |base AS (SELECT cx * 1000 + cy AS id,
         |    CASE WHEN (cx + cy) % 2 = 0 THEN 'c' || CAST(min_id % 7 AS VARCHAR)
         |         ELSE NULL END AS value,
         |    cx, cy FROM cells),
         |adj0 AS (SELECT a.id AS a, b.id AS b,
         |    CAST(1 + (a.id * 31 + b.id * 17) % 23 AS DOUBLE) AS w
         |  FROM base a JOIN base b
         |  ON (abs(a.cx - b.cx) + abs(a.cy - b.cy)) = 1 AND a.id < b.id),
         |adj AS (SELECT a, b, w FROM adj0 UNION ALL SELECT b AS a, a AS b, w FROM adj0),
         |votes AS (SELECT u.id, fn.value AS nval, sum(w) AS vw
         |  FROM base u JOIN adj ON adj.a = u.id
         |  JOIN base fn ON fn.id = adj.b AND fn.value IS NOT NULL
         |  WHERE u.value IS NULL GROUP BY u.id, fn.value),
         |gkeys AS (SELECT id, array_to_string(list_sort(list(DISTINCT nval)), '~') AS gkey
         |  FROM votes GROUP BY id),
         |pooled AS (SELECT k.gkey, v.nval, sum(v.vw) AS gw
         |  FROM votes v JOIN gkeys k USING (id) GROUP BY 1, 2),
         |winners AS (SELECT gkey, nval FROM (
         |    SELECT gkey, nval,
         |      row_number() OVER (PARTITION BY gkey ORDER BY gw DESC, nval) AS rn
         |    FROM pooled) WHERE rn = 1),
         |f1 AS MATERIALIZED (SELECT b.id, b.value AS v0, coalesce(b.value, w2.nval) AS value
         |  FROM base b LEFT JOIN (
         |    SELECT k.id, w1.nval FROM gkeys k JOIN winners w1 USING (gkey)) w2 USING (id)),
         |sv AS (SELECT f.id, fn.value AS nval, sum(adj.w) AS vw
         |  FROM f1 f JOIN adj ON adj.a = f.id
         |  JOIN f1 fn ON fn.id = adj.b AND fn.value IS NOT NULL
         |  WHERE f.v0 IS NULL GROUP BY f.id, fn.value),
         |sw AS (SELECT id, nval FROM (
         |    SELECT id, nval,
         |      row_number() OVER (PARTITION BY id ORDER BY vw DESC, nval) AS rn,
         |      count(*) OVER (PARTITION BY id) AS nv
         |    FROM sv) WHERE rn = 1 AND nv >= 2)
         |SELECT f1.id, coalesce(sw.nval, f1.value) AS value
         |FROM f1 LEFT JOIN sw USING (id) ORDER BY id""".stripMargin),

    // -check-geometry: distributed segment self-intersection report
    query("q_check_geom")((s, dir) => {
      val segs = points(s, dir).select(col("id").as("sid"),
        col("x").as("x1"), col("y").as("y1"),
        (col("x") + (derivedX(col("id") * 31 + 17) / 10.0 - 5.0)).as("x2"),
        (col("y") + (derivedY(col("id") * 57 + 3) / 10.0 - 5.0)).as("y2"))
      CheckGeometry.intersectingPairs(segs, "sid", cellSize = 5.0)
        .orderBy("a_id", "b_id")
    })(
      // -check-geometry: the distributed cell-partitioned intersection report
      // vs the O(n^2) pair scan — identical IEEE orientation arithmetic
      // (structured as staged CTEs with CASE flags — the single-WHERE version
      // trips an internal DuckDB vectorizer assertion, "requires a flat vector")
      s"""WITH $ptsSql,
         |segs AS MATERIALIZED (SELECT id AS sid, x AS x1, y AS y1,
         |  x + (${derivedXSql("(id * 31 + 17)")} / 10.0 - 5.0) AS x2,
         |  y + (${derivedYSql("(id * 57 + 3)")} / 10.0 - 5.0) AS y2 FROM pts),
         |j AS (SELECT a.sid AS a_id, b.sid AS b_id,
         |  a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
         |  b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2
         |  FROM segs a JOIN segs b ON a.sid < b.sid),
         |f AS (SELECT a_id, b_id,
         |  ((ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)) AS o1,
         |  ((ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)) AS o2,
         |  ((bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)) AS o3,
         |  ((bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)) AS o4,
         |  CASE WHEN (ax1 = bx1 AND ay1 = by1) OR (ax1 = bx2 AND ay1 = by2)
         |    OR (ax2 = bx1 AND ay2 = by1) OR (ax2 = bx2 AND ay2 = by2)
         |    THEN 1 ELSE 0 END AS shared,
         |  CASE WHEN least(ax1, ax2) <= greatest(bx1, bx2)
         |    AND least(bx1, bx2) <= greatest(ax1, ax2)
         |    AND least(ay1, ay2) <= greatest(by1, by2)
         |    AND least(by1, by2) <= greatest(ay1, ay2) THEN 1 ELSE 0 END AS bb
         |  FROM j)
         |SELECT a_id, b_id FROM f
         |WHERE shared = 0 AND bb = 1 AND o1 * o2 <= 0 AND o3 * o4 <= 0
         |ORDER BY a_id, b_id""".stripMargin),

    // -filter-islands2: islands (no shared edges) below min-area removed
    // unless they contain a hole; shared-edge rings always kept
    query("q_filter_islands2")((s, dir) => {
      val cells = points(s, dir)
        .select(floor(col("x") / 10.0).cast("long").as("cx"),
          floor(col("y") / 10.0).cast("long").as("cy"))
        .distinct()
        .withColumn("s", when(col("cx") % 2 === 0, lit(10.0))
          .otherwise(lit(4.0) + (col("cy") % 2).cast("double") * 3.0))
        .withColumn("x0", col("cx").cast("double") * 10.0)
        .withColumn("y0", col("cy").cast("double") * 10.0)
      val outers = cells.select(
        (col("cx") * 1000 + col("cy")).as("rid"),
        (col("cx") * 1000 + col("cy")).as("key"),
        array(col("x0"), col("y0"), col("x0") + col("s"), col("y0"),
          col("x0") + col("s"), col("y0") + col("s"), col("x0"), col("y0") + col("s"),
          col("x0"), col("y0")).as("ring"))
      val holes = cells.where((col("cx") * 7 + col("cy")) % 5 === 0).select(
        (col("cx") * 1000 + col("cy") + 500000).as("rid"),
        (col("cx") * 1000 + col("cy")).as("key"),
        array(col("x0") + 1.0, col("y0") + 1.0, col("x0") + 1.0, col("y0") + 2.5,
          col("x0") + 2.5, col("y0") + 2.5, col("x0") + 2.5, col("y0") + 1.0,
          col("x0") + 1.0, col("y0") + 1.0).as("ring"))
      FilterIslands2(outers.union(holes), "rid", "key", "ring", minArea = 120.0)
        .select(col("rid")).orderBy("rid")
    })(
      // -filter-islands2: island = no shared full-side edge (only adjacent
      // s=10 squares share); removed when area < 120 and no hole inside
      s"""WITH $ptsSql,
         |cells AS (SELECT DISTINCT CAST(floor(x / 10.0) AS BIGINT) AS cx,
         |    CAST(floor(y / 10.0) AS BIGINT) AS cy FROM pts),
         |cc AS (SELECT cx, cy,
         |    CASE WHEN cx % 2 = 0 THEN 10.0 ELSE 4.0 + CAST(cy % 2 AS DOUBLE) * 3.0 END AS s
         |  FROM cells),
         |island AS (SELECT cx, cy, s,
         |    NOT (s = 10.0 AND EXISTS (SELECT 1 FROM cc b
         |      WHERE b.cx = cc.cx AND abs(b.cy - cc.cy) = 1 AND b.s = 10.0)) AS isl
         |  FROM cc),
         |removed AS (SELECT cx * 1000 + cy AS rid FROM island
         |  WHERE isl AND s * s < 120.0 AND NOT ((cx * 7 + cy) % 5 = 0)),
         |allrings AS (SELECT cx * 1000 + cy AS rid FROM cc
         |  UNION ALL SELECT cx * 1000 + cy + 500000 FROM cc WHERE (cx * 7 + cy) % 5 = 0)
         |SELECT rid FROM allrings WHERE rid NOT IN (SELECT rid FROM removed)
         |ORDER BY rid""".stripMargin),

    // -filter-slivers: rings below min-area dropped; closed-form rect
    // family (areas w*h known exactly), shoelace evaluated by the engine
    query("q_filter_slivers")((s, dir) => {
      val fams = points(s, dir).select((col("id") % 40).as("g")).distinct()
        .withColumn("i", explode(array(lit(0), lit(1), lit(2))))
        .withColumn("w", (col("g") * 3 + col("i") * 5) % 11 + 1)
        .withColumn("h", (col("g") * 7 + col("i") * 2) % 9 + 1)
      val rects = fams.select(col("g"), col("i"),
        array(lit(0.0), lit(0.0), col("w").cast("double"), lit(0.0),
          col("w").cast("double"), col("h").cast("double"),
          lit(0.0), col("h").cast("double"), lit(0.0), lit(0.0)).as("ring"))
      SimplifyOp.filterSlivers(rects, "ring", minArea = 30.0)
        .select(col("g"), col("i")).orderBy("g", "i")
    })(
      """WITH g AS (SELECT DISTINCT (c_custkey % 40) AS g FROM customer),
        |f AS (SELECT g, CAST(i AS INT) AS i,
        |    (g * 3 + i * 5) % 11 + 1 AS w, (g * 7 + i * 2) % 9 + 1 AS h
        |  FROM g, (VALUES (0), (1), (2)) t(i))
        |SELECT g, i FROM f WHERE CAST(w * h AS DOUBLE) >= 30.0
        |ORDER BY g, i""".stripMargin),

    // DISTRIBUTED dissolve2 (cell-join candidate pairs -> min-label CC ->
    // mosaic kernel per component) through the driver gate: 50 families of
    // 3 strictly-overlapping 10x10 rects on disjoint 40-unit tiles, so each
    // family is one component (min-id label) whose union area has an
    // inclusion-exclusion closed form
    query("q_dissolve2_dist")((s, dir) => {
      val g = col("g"); val i = col("i")
      val x0 = ((g % 10) * 40 + (g * (i * 2 + 3)) % 9).cast("double")
      val y0 = ((g / 10).cast("long") * 40 + (g * (i * 3 + 5)) % 9).cast("double")
      val shapes = points(s, dir).select((col("id") % 50).as("g")).distinct()
        .withColumn("i", explode(array(lit(0), lit(1), lit(2))))
        .select((g * 3 + i).as("sid"),
          array(x0, y0, x0 + 10, y0, x0 + 10, y0 + 10, x0, y0 + 10, x0, y0).as("ring"))
      OverlayOp.dissolve2Distributed(s, shapes, "sid", "ring", cellRes = 4)
        .select(col("component"), col("n_shapes_in"), col("n_rings_out"),
          round(col("area") * 100.0, 0).cast("long").as("area_int"))
        .orderBy("component")
    })(
      // one component per family (min sid = 3g); union area of three
      // pairwise-overlapping 10x10 rects by inclusion-exclusion (integer
      // arithmetic throughout — the mosaic's traced faces sum to the same)
      """WITH gg AS (SELECT DISTINCT (c_custkey % 50) AS g FROM customer),
        |r AS (SELECT g, i,
        |    CAST((g % 10) * 40 + (g * (3 + 2 * i)) % 9 AS DOUBLE) AS x,
        |    CAST((g // 10) * 40 + (g * (5 + 3 * i)) % 9 AS DOUBLE) AS y
        |  FROM gg, (VALUES (0), (1), (2)) t(i)),
        |pw AS (SELECT a.g,
        |    sum(greatest(0.0, least(a.x, b.x) + 10.0 - greatest(a.x, b.x)) *
        |        greatest(0.0, least(a.y, b.y) + 10.0 - greatest(a.y, b.y))) AS psum
        |  FROM r a JOIN r b ON a.g = b.g AND a.i < b.i GROUP BY a.g),
        |t3 AS (SELECT g,
        |    greatest(0.0, min(x) + 10.0 - max(x)) *
        |    greatest(0.0, min(y) + 10.0 - max(y)) AS ov3
        |  FROM r GROUP BY g)
        |SELECT pw.g * 3 AS component, CAST(3 AS BIGINT) AS n_shapes_in,
        |  CAST(1 AS BIGINT) AS n_rings_out,
        |  CAST(round((300.0 - psum + ov3) * 100.0, 0) AS BIGINT) AS area_int
        |FROM pw JOIN t3 ON pw.g = t3.g
        |ORDER BY component""".stripMargin)
  )
}
