package graft
package entry

import org.apache.spark.sql.functions._

import graft.entry.Fixtures._
import graft.entry.Query.query
import graft.functions.FeatureExprs.ringSignedArea
import graft.operators._
import graft.tables.Synthetic

/**
 * Generated grids: square, hex, rhombus and triangle grids, dot density,
 * subdivision, rectangles, graticule and the raster blur.
 */
private[graft] object GridQueries {

  /** The q_grid_rhombus / q_grid_triangle SQL: the pointy-top hex lattice
   * (floor/ceil ranges, centers) and the 6 ring-vertex offsets mirrored with
   * interpolated constants; the vertex-mean center and shoelace areas are
   * written as explicit left-associative chains so the FP op order matches
   * the Scala kernels exactly. */
  private def gridMirrorSql(rhombus: Boolean): String = {
    val size = 4.0
    val SQC = dl(math.sqrt(3.0) * size) // q pitch (= size * sqrt(3), same product)
    val KC2 = dl(size * 1.5)
    val offs = (0 until 6).map { i =>
      val a = math.Pi / 6.0 + math.Pi / 3.0 * i
      (dl(size * math.cos(a)), dl(size * math.sin(a)))
    }
    val vcols = offs.zipWithIndex.map { case ((ox, oy), i) =>
      s"cx + $ox AS v${i}x, cy + $oy AS v${i}y"
    }.mkString(",\n       |    ")
    // k-expansion: which 3 (rhombus) / 2 (triangle) hex vertices + the mean
    val cells =
      if (rhombus)
        Seq((0, Seq(0, 1, 2)), (1, Seq(2, 3, 4)), (2, Seq(4, 5, 0)))
      else (0 until 6).map(k => (k, Seq(k, (k + 1) % 6)))
    val aliases =
      if (rhombus) Seq("ax", "ay", "bx", "by", "c2x", "c2y") else Seq("ax", "ay", "bx", "by")
    val cellRows = cells.map { case (k, vs) =>
      val coords = vs.flatMap(v => Seq(s"v${v}x", s"v${v}y")).zip(aliases)
        .map { case (c, al) => s"$c AS $al" }.mkString(", ")
      s"SELECT q, r, $k AS k, mx, my, $coords FROM hexm"
    }.mkString("\n  UNION ALL\n  ")
    val areaExpr =
      if (rhombus) // closed ring [m, a, b, c, m]: 4 shoelace terms in loop order
        "((mx * ay - ax * my) + (ax * by - bx * ay) + (bx * c2y - c2x * by) + (c2x * my - mx * c2y)) / 2.0"
      else "((mx * ay - ax * my) + (ax * by - bx * ay) + (bx * my - mx * by)) / 2.0"
    s"""WITH rr AS (SELECT unnest(range(-1, 6)) AS r),
       |qq AS (SELECT r,
       |    unnest(range(CAST(floor(0.0 / $SQC - CAST(r AS DOUBLE) / 2.0) AS BIGINT) - 1,
       |                 CAST(ceil(30.0 / $SQC - CAST(r AS DOUBLE) / 2.0) AS BIGINT) + 2)) AS q
       |  FROM rr),
       |hex AS (SELECT q, r,
       |    $SQC * (CAST(q AS DOUBLE) + CAST(r AS DOUBLE) / 2.0) AS cx,
       |    $KC2 * CAST(r AS DOUBLE) AS cy
       |  FROM qq),
       |hexv AS (SELECT q, r,
       |    $vcols
       |  FROM hex),
       |hexm AS (SELECT *,
       |    (v0x + v1x + v2x + v3x + v4x + v5x) / 6.0 AS mx,
       |    (v0y + v1y + v2y + v3y + v4y + v5y) / 6.0 AS my
       |  FROM hexv),
       |cells AS (
       |  $cellRows)
       |SELECT q, r, CAST(k AS BIGINT) AS k,
       |  CAST(floor($areaExpr * 1000000.0) AS BIGINT) AS area_int,
       |  CAST(floor(ax * 1000000.0) AS BIGINT) AS v1x_int,
       |  CAST(floor(ay * 1000000.0) AS BIGINT) AS v1y_int
       |FROM cells
       |ORDER BY q, r, k""".stripMargin
  }

  /** The q_subdivide_count SQL: Subdivide.byCount's data-dependent split
   * cascade unrolled as a 10-round wavefront — each round counts points per
   * current leaf and descends the members of over-threshold leaves one
   * level (split axis = longer box side, mid = (lo+hi)/2, children 2k /
   * 2k+1), carrying each point's leaf box through the rounds. Rounds past
   * convergence are no-ops on both sides. */
  private def subdivideMirrorSql: String = {
    val rounds = (0 until 10).map { k =>
      s"""c$k AS (SELECT leaf, count(*) AS c FROM l$k GROUP BY leaf),
         |l${k + 1} AS (SELECT id, x, y,
         |  CASE WHEN c > 100 THEN leaf * 2 + (CASE WHEN (CASE WHEN (x1 - x0) >= (y1 - y0)
         |      THEN x < (x0 + x1) / 2.0 ELSE y < (y0 + y1) / 2.0 END) THEN 0 ELSE 1 END)
         |    ELSE leaf END AS leaf,
         |  CASE WHEN c > 100 AND (x1 - x0) >= (y1 - y0) AND x >= (x0 + x1) / 2.0
         |    THEN (x0 + x1) / 2.0 ELSE x0 END AS x0,
         |  CASE WHEN c > 100 AND NOT ((x1 - x0) >= (y1 - y0)) AND y >= (y0 + y1) / 2.0
         |    THEN (y0 + y1) / 2.0 ELSE y0 END AS y0,
         |  CASE WHEN c > 100 AND (x1 - x0) >= (y1 - y0) AND x < (x0 + x1) / 2.0
         |    THEN (x0 + x1) / 2.0 ELSE x1 END AS x1,
         |  CASE WHEN c > 100 AND NOT ((x1 - x0) >= (y1 - y0)) AND y < (y0 + y1) / 2.0
         |    THEN (y0 + y1) / 2.0 ELSE y1 END AS y1
         |  FROM l$k JOIN c$k USING (leaf))""".stripMargin
    }.mkString(",\n")
    s"""WITH $ptsSql,
       |ext AS (SELECT min(x) AS mnx, min(y) AS mny,
       |    max(x) + ${dl(1e-9)} AS mxx, max(y) + ${dl(1e-9)} AS mxy FROM pts),
       |l0 AS (SELECT id, x, y, CAST(1 AS BIGINT) AS leaf,
       |    mnx AS x0, mny AS y0, mxx AS x1, mxy AS y1 FROM pts, ext),
       |$rounds
       |SELECT leaf AS leaf_id, count(*) AS n,
       |  CAST(floor(min(x) * 1000.0) AS BIGINT) AS xmn_int,
       |  CAST(floor(max(x) * 1000.0) AS BIGINT) AS xmx_int,
       |  CAST(floor(min(y) * 1000.0) AS BIGINT) AS ymn_int,
       |  CAST(floor(max(y) * 1000.0) AS BIGINT) AS ymx_int
       |FROM l10 GROUP BY leaf ORDER BY leaf""".stripMargin
  }

  /** The q_grid_hex / q_grid_hex_flat SQL: the hexagon lattice itself —
   * same hex CTE as [[gridMirrorSql]], emitting the hexagon's center,
   * second vertex and 6-term shoelace area (loop order =
   * Geom.signedRingArea). `flatTop = true` transposes the lattice
   * (reference 'hex'): outer loop over q at 1.5·size pitch, vertices at
   * 0°/60°/...; `false` is pointy-top (reference 'hex2'). */
  private def hexMirrorSql(flatTop: Boolean): String = {
    val size = 4.0
    val SQC = dl(math.sqrt(3.0) * size)
    val KC2 = dl(size * 1.5)
    val vcols = (0 until 6).map { i =>
      val a = (if (flatTop) 0.0 else math.Pi / 6.0) + math.Pi / 3.0 * i
      s"cx + ${dl(size * math.cos(a))} AS v${i}x, cy + ${dl(size * math.sin(a))} AS v${i}y"
    }.mkString(",\n       |    ")
    val shoelace = (0 until 6).map { i =>
      val j = (i + 1) % 6
      s"(v${i}x * v${j}y - v${j}x * v${i}y)"
    }.mkString(" + ")
    val lattice = if (!flatTop)
      s"""WITH rr AS (SELECT unnest(range(-1, 6)) AS r),
         |qq AS (SELECT r,
         |    unnest(range(CAST(floor(0.0 / $SQC - CAST(r AS DOUBLE) / 2.0) AS BIGINT) - 1,
         |                 CAST(ceil(30.0 / $SQC - CAST(r AS DOUBLE) / 2.0) AS BIGINT) + 2)) AS q
         |  FROM rr),
         |hex AS (SELECT q, r,
         |    $SQC * (CAST(q AS DOUBLE) + CAST(r AS DOUBLE) / 2.0) AS cx,
         |    $KC2 * CAST(r AS DOUBLE) AS cy
         |  FROM qq),"""
    else
      s"""WITH qq0 AS (SELECT unnest(range(-1, 7)) AS q),
         |qq AS (SELECT q,
         |    unnest(range(CAST(floor(0.0 / $SQC - CAST(q AS DOUBLE) / 2.0) AS BIGINT) - 1,
         |                 CAST(ceil(20.0 / $SQC - CAST(q AS DOUBLE) / 2.0) AS BIGINT) + 2)) AS r
         |  FROM qq0),
         |hex AS (SELECT q, r,
         |    $KC2 * CAST(q AS DOUBLE) AS cx,
         |    $SQC * (CAST(r AS DOUBLE) + CAST(q AS DOUBLE) / 2.0) AS cy
         |  FROM qq),"""
    s"""$lattice
       |hexv AS (SELECT q, r, cx, cy,
       |    $vcols
       |  FROM hex)
       |SELECT q, r,
       |  CAST(floor(cx * 1000000.0) AS BIGINT) AS cx_int,
       |  CAST(floor(cy * 1000000.0) AS BIGINT) AS cy_int,
       |  CAST(floor((($shoelace) / 2.0) * 1000000.0) AS BIGINT) AS area_int,
       |  CAST(floor(v1x * 1000000.0) AS BIGINT) AS v1x_int,
       |  CAST(floor(v1y * 1000000.0) AS BIGINT) AS v1y_int
       |FROM hexv ORDER BY q, r""".stripMargin
  }

  /** The q_dots SQL: rejection-sampled dot fill from pure SplitMix64
   * arithmetic — nextLong call c returns mix(seed + c*GAMMA); draw j
   * consumes calls 2j+1 (x) and 2j+2 (y); the rect-with-hole fixture makes
   * even-odd containment a bbox test (accept unless strictly inside the
   * hole), and the first 10 accepted draws are the dots. */
  private lazy val dotsSql: String = {
    import WrapSql._
    val DBL = dl(1.1102230246251565e-16)
    s"""WITH $ptsSql,
       |gs AS (SELECT DISTINCT id % 8 AS g FROM pts),
       |calls AS (SELECT g, CAST(g * 1000 + 7 AS UBIGINT) AS seed,
       |    unnest(range(1, 401)) AS c FROM gs),
       |smin AS (SELECT g, c,
       |    CAST((CAST(seed AS HUGEINT) + (CAST(c - 1 AS HUGEINT) * CAST('${u(Golden)}' AS HUGEINT)) % $M64) % $M64 AS UBIGINT) AS _zin
       |  FROM calls),
       |${splitmix("sm", "_zin", "z")},
       |dbls AS (SELECT g, c, CAST(z >> 11 AS DOUBLE) * $DBL AS d FROM smout),
       |draws AS (SELECT a.g, (a.c - 1) // 2 AS j, a.d * 20.0 AS px, b.d * 10.0 AS py
       |  FROM dbls a JOIN dbls b ON b.g = a.g AND b.c = a.c + 1
       |  WHERE a.c % 2 = 1),
       |acc AS (SELECT g, j, px, py,
       |    row_number() OVER (PARTITION BY g ORDER BY j) - 1 AS k
       |  FROM draws
       |  WHERE NOT (px > 8.0 AND px < 12.0 AND py > 3.0 AND py < 7.0))
       |SELECT g, CAST(k AS BIGINT) AS k,
       |  CAST(floor(px * 1000000000.0) AS BIGINT) AS x_int,
       |  CAST(floor(py * 1000000000.0) AS BIGINT) AS y_int
       |FROM acc WHERE k < 10 ORDER BY g, k""".stripMargin
  }

  /** The q_dots_even SQL: dotFillEven replayed draw-by-draw. Two recursive
   * state machines over the same SplitMix64 call positions the engine
   * consumes — (1) the Fisher-Yates cell shuffle (calls 1..cells-1, one
   * `(z>>>1) % (i+1)` swap per step), (2) the probe loop (probe p uses
   * calls cells+2p / cells+2p+1): first-fill seeds one candidate per
   * shuffled cell, then dart-throwing; the 3x3-occupancy-window
   * min-distance test and the x0.9 relaxation every
   * ceil(cells^0.8)-failed-probes are replayed per step with the placed
   * points carried as list state. Sizing constants (cols/rows/cellSize/
   * spacing) are interpolated from the same arithmetic the engine runs. */
  private lazy val dotsEvenSql: String = {
    import WrapSql._
    val DBL = dl(1.1102230246251565e-16)
    val n = 10
    val ev = 1.0
    val rings = Seq(oRect(0, 0, 20, 10), oRect(8, 3, 4, 4))
    var bx0 = Double.MaxValue; var by0 = Double.MaxValue
    var bx1 = Double.MinValue; var by1 = Double.MinValue
    rings.foreach { r =>
      var i = 0
      while (i < r.length) {
        bx0 = math.min(bx0, r(i)); bx1 = math.max(bx1, r(i))
        by0 = math.min(by0, r(i + 1)); by1 = math.max(by1, r(i + 1))
        i += 2
      }
    }
    val w = bx1 - bx0; val h = by1 - by0
    val shpArea = math.abs(rings.map { r =>
      val m = r.length / 2
      val xs = Array.tabulate(m)(i => r(i * 2))
      val ys = Array.tabulate(m)(i => r(i * 2 + 1))
      graft.geom.Geom.signedRingArea(xs, ys, 0, m)
    }.sum)
    val approxQueries = math.max(1L, math.round(n * (w * h) / shpArea))
    val kf = 0.5 * (ev - 1.0) + 1.0
    val approxCells = approxQueries * 0.9 * kf
    val cols = math.max(1, math.round(math.sqrt(approxCells * w / h)).toInt)
    val rows = math.max(1, math.ceil(cols * h / w).toInt)
    val cellSize = w / cols
    val cells = cols * rows
    val sp0 = cellSize * 0.7 * ev
    val relax = math.ceil(math.pow(cells.toDouble, 0.8)).toLong
    val maxProbes = cells.toLong * 10 * math.max(1, n)
    val maxCall = cells - 1 + 2 * maxProbes + 2
    val CELL = dl(cellSize); val SP0 = dl(sp0)
    val WC = dl(w); val HC = dl(h)
    val X0C = dl(bx0); val Y0C = dl(by0); val Y1C = dl(by1)
    def cellc(px: String) =
      s"least(${cols - 1}, greatest(0, CAST(trunc(($px - $X0C) / $CELL) AS INT)))"
    def cellr(py: String) =
      s"least(${rows - 1}, greatest(0, CAST(trunc(($py - $Y0C) / $CELL) AS INT)))"
    val usable =
      s"len(list_filter(range(1, len(xs) + 1), ii -> " +
        s"abs(${cellc("xs[CAST(ii AS INT)]")} - cc2) <= 1 AND " +
        s"abs(${cellr("ys[CAST(ii AS INT)]")} - rr2) <= 1 AND " +
        s"(xs[CAST(ii AS INT)] - px) * (xs[CAST(ii AS INT)] - px) + " +
        s"(ys[CAST(ii AS INT)] - py) * (ys[CAST(ii AS INT)] - py) < sp * sp)) = 0"
    s"""WITH RECURSIVE $ptsSql,
       |gs AS (SELECT DISTINCT id % 8 AS g FROM pts),
       |calls AS (SELECT g, CAST(g * 1000 + 7 AS UBIGINT) AS seed,
       |    unnest(range(1, $maxCall)) AS c FROM gs),
       |smin AS (SELECT g, c,
       |    CAST((CAST(seed AS HUGEINT) + (CAST(c - 1 AS HUGEINT) * CAST('${u(Golden)}' AS HUGEINT)) % $M64) % $M64 AS UBIGINT) AS _zin
       |  FROM calls),
       |${splitmix("sm", "_zin", "z")},
       |zz AS (SELECT g, c, z, CAST(z >> 11 AS DOUBLE) * $DBL AS d FROM smout),
       |sh AS (
       |  SELECT g, ${cells - 1} AS i, range(0, $cells) AS ord FROM gs
       |  UNION ALL
       |  SELECT g, i - 1,
       |    [CASE WHEN kx = i THEN ord[j + 1]
       |          WHEN kx = j THEN ord[i + 1]
       |          ELSE ord[kx + 1] END FOR kx IN range(0, $cells)]
       |  FROM (SELECT sh.g, sh.i, sh.ord,
       |          CAST((zz.z >> 1) % CAST(sh.i + 1 AS UBIGINT) AS BIGINT) AS j
       |        FROM sh JOIN zz ON zz.g = sh.g AND zz.c = $cells - sh.i) s
       |  WHERE i > 0
       |),
       |shf AS (SELECT g, ord FROM sh WHERE i = 0),
       |st AS (
       |  SELECT g, 0 AS p, 0 AS placed,
       |    CAST([] AS DOUBLE[]) AS xs, CAST([] AS DOUBLE[]) AS ys,
       |    $SP0 AS sp, false AS done FROM gs
       |  UNION ALL
       |  SELECT g, p + 1,
       |    CASE WHEN got THEN placed + 1 ELSE placed END,
       |    CASE WHEN got THEN list_append(xs, px) ELSE xs END,
       |    CASE WHEN got THEN list_append(ys, py) ELSE ys END,
       |    CASE WHEN NOT got AND p >= $cells AND p % $relax = ${relax - 1} THEN sp * 0.9 ELSE sp END,
       |    (CASE WHEN got THEN placed + 1 ELSE placed END) >= $n OR p + 1 >= $maxProbes
       |  FROM (
       |    SELECT *, ((p >= $cells OR py <= $Y1C) AND $usable
       |        AND NOT (px > 8.0 AND px < 12.0 AND py > 3.0 AND py < 7.0)) AS got
       |    FROM (
       |      SELECT *, ${cellc("px")} AS cc2, ${cellr("py")} AS rr2
       |      FROM (
       |        SELECT st.g, st.p, st.placed, st.xs, st.ys, st.sp,
       |          CASE WHEN st.p < $cells
       |            THEN $X0C + (CAST(shf.ord[st.p + 1] % $cols AS DOUBLE) + a.d) * $CELL
       |            ELSE $X0C + a.d * $WC END AS px,
       |          CASE WHEN st.p < $cells
       |            THEN $Y0C + (CAST(shf.ord[st.p + 1] // $cols AS DOUBLE) + b.d) * $CELL
       |            ELSE $Y0C + b.d * $HC END AS py
       |        FROM st
       |          JOIN shf ON shf.g = st.g
       |          JOIN zz a ON a.g = st.g AND a.c = $cells + 2 * st.p
       |          JOIN zz b ON b.g = st.g AND b.c = $cells + 2 * st.p + 1
       |        WHERE NOT st.done
       |      ) c1
       |    ) c2
       |  ) c3
       |),
       |fin AS (SELECT g, xs, ys FROM st WHERE done)
       |SELECT g, CAST(t.kx AS BIGINT) - 1 AS k,
       |  CAST(floor(xs[CAST(t.kx AS INT)] * 1000000000.0) AS BIGINT) AS x_int,
       |  CAST(floor(ys[CAST(t.kx AS INT)] * 1000000000.0) AS BIGINT) AS y_int
       |FROM fin, (SELECT unnest(range(1, ${n + 1})) AS kx) t
       |WHERE t.kx <= len(xs)
       |ORDER BY g, k""".stripMargin
  }

  val all: Seq[Query] = Seq(
    query("q_split_grid")((s, dir) =>
      Tiling.splitOnGrid(points(s, dir), "x", "y", 20.0)
        .groupBy("grid_col", "grid_row")
        .agg(count(lit(1)).as("n"))
        .orderBy("grid_col", "grid_row"))(
      s"""WITH $ptsSql
         |SELECT CAST(floor(x / 20.0) AS BIGINT) AS grid_col,
         |       CAST(floor(y / 20.0) AS BIGINT) AS grid_row, count(*) AS n
         |FROM pts GROUP BY grid_col, grid_row ORDER BY grid_col, grid_row""".stripMargin),

    // -point-grid: generated square grid (distributed, codegen arithmetic)
    query("q_point_grid")((s, dir) =>
      Grids.pointGrid(s, 0.0, 0.0, 12.5, 8, 8)
        .select(col("gid"), col("gx"), col("gy"), col("x"), col("y"))
        .orderBy("gid"))(
      """SELECT CAST(range AS BIGINT) AS gid,
        |  CAST(range % 8 AS BIGINT) AS gx,
        |  CAST(floor(CAST(range AS DOUBLE) / 8.0) AS BIGINT) AS gy,
        |  (CAST(range % 8 AS DOUBLE) * 12.5 + (CAST(range % 8 AS DOUBLE) + 1) * 12.5) / 2 AS x,
        |  (floor(CAST(range AS DOUBLE) / 8.0) * 12.5 + (floor(CAST(range AS DOUBLE) / 8.0) + 1) * 12.5) / 2 AS y
        |FROM range(64) ORDER BY gid""".stripMargin),

    // raster blur: point-density grid -> clamped 3x3 box blur; output the
    // integer neighbor-sum (9 * blurred value) so the compare is FP-free
    query("q_raster_blur")((s, dir) => {
      import s.implicits._
      val counts = points(s, dir)
        .select(floor(col("x") / 10.0).cast("int").as("cx"),
          floor(col("y") / 10.0).cast("int").as("cy"))
        .groupBy("cx", "cy").count()
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
      val vals = Array.tabulate(100) { i =>
        counts.getOrElse((i % 10, i / 10), 0L).toDouble
      }
      val g = Raster.Grid(10, 10, vals, Raster.Georef(0, 100, 10))
      val blurred = Raster.boxBlur(g, 1)
      (for (cy <- 0 until 10; cx <- 0 until 10) yield
        (cx.toLong, cy.toLong, math.round(blurred(cx, cy) * 9.0)))
        .toDF("cx", "cy", "m")
        .orderBy("cx", "cy")
    })(
      s"""WITH $ptsSql,
         |cnt AS (SELECT CAST(floor(x / 10.0) AS BIGINT) AS cx,
         |  CAST(floor(y / 10.0) AS BIGINT) AS cy, count(*) AS c
         |  FROM pts GROUP BY 1, 2),
         |g AS (SELECT gx.range AS cx, gy.range AS cy, COALESCE(cnt.c, 0) AS c
         |  FROM range(10) gx CROSS JOIN range(10) gy
         |  LEFT JOIN cnt ON cnt.cx = gx.range AND cnt.cy = gy.range)
         |SELECT a.cx, a.cy, CAST(sum(bv.c) AS BIGINT) AS m
         |FROM g a
         |CROSS JOIN (VALUES (-1), (0), (1)) dxs(dx)
         |CROSS JOIN (VALUES (-1), (0), (1)) dys(dy)
         |JOIN g bv ON bv.cx = least(greatest(a.cx + dxs.dx, 0), 9)
         |         AND bv.cy = least(greatest(a.cy + dys.dy, 0), 9)
         |GROUP BY a.cx, a.cy
         |ORDER BY a.cx, a.cy""".stripMargin),

    // -grid type=rhombus / type=triangle: hex lattice subdivision; vertex
    // positions and shoelace areas verified by an exact-FP DuckDB mirror
    query("q_grid_rhombus")((s, dir) =>
      Grids.rhombusGrid(s, 0.0, 0.0, 30.0, 20.0, 4.0)
        .select(col("q"), col("r"), col("k").cast("long").as("k"),
          floor(ringSignedArea(col("ring")) * 1000000.0).cast("long").as("area_int"),
          floor(element_at(col("ring"), 3) * 1000000.0).cast("long").as("v1x_int"),
          floor(element_at(col("ring"), 4) * 1000000.0).cast("long").as("v1y_int"))
        .orderBy("q", "r", "k"))(
      gridMirrorSql(rhombus = true)),

    query("q_grid_triangle")((s, dir) =>
      Grids.triangleGrid(s, 0.0, 0.0, 30.0, 20.0, 4.0)
        .select(col("q"), col("r"), col("k").cast("long").as("k"),
          floor(ringSignedArea(col("ring")) * 1000000.0).cast("long").as("area_int"),
          floor(element_at(col("ring"), 3) * 1000000.0).cast("long").as("v1x_int"),
          floor(element_at(col("ring"), 4) * 1000000.0).cast("long").as("v1y_int"))
        .orderBy("q", "r", "k"))(
      gridMirrorSql(rhombus = false)),

    // -dots (ref mapshaper-dot-density.mjs): deterministic rejection
    // sampling inside a rect-with-hole — every SplitMix64 draw, the bbox
    // mapping, and the even-odd acceptance (pure bbox arithmetic for this
    // fixture) are re-derived call-by-call in SQL
    query("q_dots")((s, dir) => {
      val kernel = udf { (g: Long) =>
        Grids.dotFill(Seq(oRect(0, 0, 20, 10), oRect(8, 3, 4, 4)),
          n = 10, seed = g * 1000L + 7L)
      }
      points(s, dir).select((col("id") % 8).as("g")).distinct()
        .withColumn("dots", kernel(col("g")))
        .withColumn("k",
          explode(sequence(lit(0), (size(col("dots")) / 2 - 1).cast("int"))))
        .select(col("g"), col("k").cast("long").as("k"),
          floor(element_at(col("dots"), col("k") * 2 + 1) * 1000000000.0)
            .cast("long").as("x_int"),
          floor(element_at(col("dots"), col("k") * 2 + 2) * 1000000000.0)
            .cast("long").as("y_int"))
        .orderBy("g", "k")
    })(
      dotsSql),

    // -grid type=hex2 (pointy-top hexagons, ref mapshaper-hex-grid.mjs:33):
    // the full hex lattice — enumeration bounds, centers, all six ring
    // vertices and the shoelace area — re-derived in SQL (same dl()
    // constants and op order as the rhombus/triangle mirrors)
    query("q_grid_hex")((s, dir) =>
      Grids.hexGrid(s, 0.0, 0.0, 30.0, 20.0, 4.0)
        .select(col("q"), col("r"),
          floor(col("cx") * 1000000.0).cast("long").as("cx_int"),
          floor(col("cy") * 1000000.0).cast("long").as("cy_int"),
          floor(ringSignedArea(col("ring")) * 1000000.0).cast("long").as("area_int"),
          floor(element_at(col("ring"), 3) * 1000000.0).cast("long").as("v1x_int"),
          floor(element_at(col("ring"), 4) * 1000000.0).cast("long").as("v1y_int"))
        .orderBy("q", "r"))(
      hexMirrorSql(flatTop = false)),

    // -subdivide expression=: reference count-median bisection while the
    // predicate holds; the leaf-size multiset is closed-form (balanced
    // halving) and mirrored by a recursive CTE
    query("q_subdivide")((s, dir) =>
      Subdivide.byExpression(s, points(s, dir), "x", "y", st => st.count > 100)
        .groupBy("leaf_id").agg(count(lit(1)).as("leaf_size"))
        .groupBy("leaf_size").agg(count(lit(1)).as("n_leaves"))
        .orderBy("leaf_size"))(
      // balanced halving: the leaf-size multiset of the count-median subdivide
      // is a pure function of n and the predicate — recursive CTE mirror
      """WITH RECURSIVE t(sz, lf) AS (
        |  SELECT CAST(count(*) AS BIGINT), count(*) <= 100 FROM customer
        |  UNION ALL
        |  SELECT CASE WHEN u.side = 0 THEN (t.sz + 1) // 2
        |              ELSE t.sz - (t.sz + 1) // 2 END,
        |         (CASE WHEN u.side = 0 THEN (t.sz + 1) // 2
        |               ELSE t.sz - (t.sz + 1) // 2 END) <= 100
        |  FROM t, (VALUES (0), (1)) u(side) WHERE NOT t.lf
        |)
        |SELECT sz AS leaf_size, count(*) AS n_leaves FROM t WHERE lf
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -rectangles: per-feature bbox + pct offsets + aspect fill-out, exact
    query("q_rectangles")((s, dir) => {
      import s.implicits._
      val layer = Synthetic.polygonLayer(32, seed = 11L, holeEvery = 0)
      val rings = (0 until layer.numRings).map { r =>
        val st = layer.ringStart(r); val e = layer.ringStart(r + 1)
        val flat = new Array[Double]((e - st) * 2)
        var i = st
        while (i < e) { flat((i - st) * 2) = layer.xx(i); flat((i - st) * 2 + 1) = layer.yy(i); i += 1 }
        (r.toLong, flat)
      }.toDF("ring_id", "ring")
      Rectangles.of(rings, "ring", offsets = (0.1, 0.05, 0.1, 0.05),
          offsetsArePct = true, aspectRatio = 1.5)
        .select(col("ring_id"),
          floor(element_at(col("rect"), 1) * 1000000.0).cast("long").as("x0_int"),
          floor(element_at(col("rect"), 2) * 1000000.0).cast("long").as("y0_int"),
          floor(element_at(col("rect"), 3) * 1000000.0).cast("long").as("x1_int"),
          floor(element_at(col("rect"), 4) * 1000000.0).cast("long").as("y1_int"))
        .orderBy("ring_id")
    })(
      // bbox + pct offsets + expand-only aspect fill-out, same op order
      s"""WITH v0 AS (SELECT ring, CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y
         |  FROM (VALUES ${Synthetic.ringVertsSqlValues(Synthetic.polygonLayer(32, seed = 11L, holeEvery = 0))}) t(pk, ring, i, x, y)),
         |bb AS (SELECT ring, min(x) AS x0, min(y) AS y0, max(x) AS x1, max(y) AS y1
         |  FROM v0 GROUP BY ring),
         |off AS (SELECT ring,
         |    x0 - 0.1 * (x1 - x0) AS bx0, y0 - 0.05 * (y1 - y0) AS by0,
         |    x1 + 0.1 * (x1 - x0) AS bx1, y1 + 0.05 * (y1 - y0) AS by1
         |  FROM bb),
         |ar AS (SELECT ring, bx0, by0, bx1, by1,
         |    (bx1 - bx0) / (by1 - by0) AS r FROM off),
         |fit AS (SELECT ring,
         |    CASE WHEN r < 1.5 THEN (bx0 + bx1) / 2.0 - (by1 - by0) * 1.5 / 2.0 ELSE bx0 END AS bx0,
         |    CASE WHEN r > 1.5 THEN (by0 + by1) / 2.0 - (bx1 - bx0) / 1.5 / 2.0 ELSE by0 END AS by0,
         |    CASE WHEN r < 1.5 THEN (bx0 + bx1) / 2.0 + (by1 - by0) * 1.5 / 2.0 ELSE bx1 END AS bx1,
         |    CASE WHEN r > 1.5 THEN (by0 + by1) / 2.0 + (bx1 - bx0) / 1.5 / 2.0 ELSE by1 END AS by1
         |  FROM ar)
         |SELECT CAST(ring AS BIGINT) AS ring_id,
         |  CAST(floor(bx0 * 1000000.0) AS BIGINT) AS x0_int,
         |  CAST(floor(by0 * 1000000.0) AS BIGINT) AS y0_int,
         |  CAST(floor(bx1 * 1000000.0) AS BIGINT) AS x1_int,
         |  CAST(floor(by1 * 1000000.0) AS BIGINT) AS y1_int
         |FROM fit ORDER BY ring_id""".stripMargin),

    // -graticule: meridian/parallel construction + densification verified
    // vertex by vertex (exact arithmetic both sides, no epsilon)
    query("q_graticule")((s, dir) =>
      Grids.graticule(s, 10)
        .withColumn("vi", explode(sequence(lit(0), (size(col("path")) / 2 - 1).cast("int"))))
        .select(col("gtype"), col("value").cast("long").as("value"),
          col("part").cast("long").as("part"), col("vi").cast("long").as("vi"),
          floor(element_at(col("path"), col("vi") * 2 + 1) * 1000000.0).cast("long").as("x_int"),
          floor(element_at(col("path"), col("vi") * 2 + 2) * 1000000.0).cast("long").as("y_int"))
        .orderBy("gtype", "value", "part", "vi"))(
      // graticule lattice + exact-endpoint interpolation, mirrored verbatim
      """WITH mer AS (SELECT -180.0 + 10.0 * (CAST(k AS DOUBLE) + 1.0) AS value
        |  FROM (SELECT unnest(range(0, 36)) AS k)),
        |mp AS (SELECT 'meridian' AS gtype, value,
        |    unnest(CASE WHEN CAST(value AS BIGINT) % 90 = 0 THEN [0, 1, 2] ELSE [0] END) AS part
        |  FROM mer),
        |par AS (SELECT 'parallel' AS gtype, -90.0 + 10.0 * CAST(k AS DOUBLE) AS value, 0 AS part
        |  FROM (SELECT unnest(range(0, 19)) AS k)),
        |segs AS (
        |  SELECT gtype, value, part,
        |    CASE WHEN gtype = 'parallel' THEN -180.0
        |         WHEN part = 0 THEN -80.0 WHEN part = 1 THEN -90.0 ELSE 80.0 END AS lo,
        |    CASE WHEN gtype = 'parallel' THEN 180.0
        |         WHEN part = 0 THEN 80.0 WHEN part = 1 THEN -80.0 ELSE 90.0 END AS hi
        |  FROM (SELECT * FROM mp UNION ALL SELECT * FROM par)),
        |sized AS (SELECT *, CAST(round(abs(hi - lo) / 0.5) AS INTEGER) - 1 AS n FROM segs),
        |stepped AS (SELECT *, (hi - lo) / (CAST(n AS DOUBLE) + 1.0) AS step FROM sized),
        |verts AS (SELECT gtype, value, part, n, lo, hi, step,
        |    unnest(range(0, CAST(n AS BIGINT) + 2)) AS j FROM stepped),
        |vv AS (SELECT gtype, value, part, j,
        |    CASE WHEN j = 0 THEN lo WHEN j = n + 1 THEN hi
        |         ELSE lo + step * CAST(j AS DOUBLE) END AS v
        |  FROM verts)
        |SELECT gtype, CAST(value AS BIGINT) AS value, CAST(part AS BIGINT) AS part,
        |  CAST(j AS BIGINT) AS vi,
        |  CAST(floor((CASE WHEN gtype = 'meridian' THEN value ELSE v END) * 1000000.0) AS BIGINT) AS x_int,
        |  CAST(floor((CASE WHEN gtype = 'meridian' THEN v ELSE value END) * 1000000.0) AS BIGINT) AS y_int
        |FROM vv ORDER BY gtype, value, part, vi""".stripMargin),

    // -point-to-grid: circle-influence weights into cells (rows-only; the
    // overlap kernel is unit-tested against closed-form values)
    query("q_point_to_grid")((s, dir) =>
      Grids.pointToGrid(s, points(s, dir), "x", "y", 0.0, 0.0, cs = 5.0, radius = 3.0)
        .select(col("cell"), col("n_points"),
          floor(col("weight") * 1000.0).cast("long").as("weight_int"))
        .orderBy("cell"))(
      // full 256-step circle∩cell quadrature mirror of Grids.pointToGrid
      // (same arithmetic order per term; floor(×1000) guards the sum-order ulps)
      s"""WITH $ptsSql,
         |cand AS (
         |  SELECT p.id, p.x, p.y,
         |    (CAST(floor((p.x - 0.0) / 5.0) AS BIGINT) + dx.v) * 100000
         |      + (CAST(floor((p.y - 0.0) / 5.0) AS BIGINT) + dy.v) AS cell
         |  FROM pts p CROSS JOIN (VALUES (-1),(0),(1)) dx(v) CROSS JOIN (VALUES (-1),(0),(1)) dy(v)),
         |dec AS (SELECT id, x, y, cell,
         |  CAST(trunc(CAST(cell AS DOUBLE) / 100000.0) AS BIGINT) AS cx,
         |  cell - CAST(trunc(CAST(cell AS DOUBLE) / 100000.0) AS BIGINT) * 100000 AS cy FROM cand),
         |geo AS (SELECT id, x, y, cell,
         |  0.0 + CAST(cx AS DOUBLE) * 5.0 AS xmin, 0.0 + CAST(cy AS DOUBLE) * 5.0 AS ymin FROM dec),
         |lim AS (SELECT *, greatest(xmin, x - 3.0) AS lo, least(xmin + 5.0, x + 3.0) AS hi FROM geo),
         |quad AS (SELECT *, (hi - lo) / 256.0 AS dxs FROM lim WHERE lo < hi),
         |xs AS (SELECT quad.*, lo + (CAST(i.i AS DOUBLE) + 0.5) * dxs AS xq
         |       FROM quad CROSS JOIN range(0, 256) i(i)),
         |hs AS (SELECT *, sqrt(greatest(0.0, 3.0*3.0 - (xq - x)*(xq - x))) AS h FROM xs),
         |yy AS (SELECT *, greatest(ymin, y - h) AS y1, least(ymin + 5.0, y + h) AS y2 FROM hs),
         |w AS (SELECT id, cell, SUM(CASE WHEN y2 > y1 THEN (y2 - y1) * dxs ELSE 0.0 END) / (5.0*5.0) AS wv
         |      FROM yy GROUP BY id, cell)
         |SELECT cell, count(*) AS n_points, CAST(floor(SUM(wv) * 1000.0) AS BIGINT) AS weight_int
         |FROM w WHERE wv > 0.05 GROUP BY cell ORDER BY cell""".stripMargin),

    // -grid type=hex (FLAT-TOP orientation, ref mapshaper-hex-grid.mjs:13):
    // the transposed lattice — enumeration bounds, centers, six ring
    // vertices at 0°/60°/... and the shoelace area, all re-derived in SQL
    query("q_grid_hex_flat")((s, dir) =>
      Grids.hexGrid(s, 0.0, 0.0, 30.0, 20.0, 4.0, flatTop = true)
        .select(col("q"), col("r"),
          floor(col("cx") * 1000000.0).cast("long").as("cx_int"),
          floor(col("cy") * 1000000.0).cast("long").as("cy_int"),
          floor(ringSignedArea(col("ring")) * 1000000.0).cast("long").as("area_int"),
          floor(element_at(col("ring"), 3) * 1000000.0).cast("long").as("v1x_int"),
          floor(element_at(col("ring"), 4) * 1000000.0).cast("long").as("v1y_int"))
        .orderBy("q", "r"))(
      hexMirrorSql(flatTop = true)),

    // -dots evenness=1: the FULL spaced fill — Fisher-Yates cell shuffle,
    // per-cell seeded first-fill, dart-throwing with the x0.9 relaxation
    // schedule and 3x3-window min-distance test — replayed draw-by-draw in
    // SQL as two recursive-CTE state machines over the same SplitMix64
    // call positions (ref mapshaper-dot-density.mjs:40-230)
    query("q_dots_even")((s, dir) => {
      val kernel = udf { (g: Long) =>
        Grids.dotFillEven(Seq(oRect(0, 0, 20, 10), oRect(8, 3, 4, 4)),
          n = 10, evenness = 1.0, seed = g * 1000L + 7L)
      }
      points(s, dir).select((col("id") % 8).as("g")).distinct()
        .withColumn("dots", kernel(col("g")))
        .withColumn("k",
          explode(sequence(lit(0), (size(col("dots")) / 2 - 1).cast("int"))))
        .select(col("g"), col("k").cast("long").as("k"),
          floor(element_at(col("dots"), col("k") * 2 + 1) * 1000000000.0)
            .cast("long").as("x_int"),
          floor(element_at(col("dots"), col("k") * 2 + 2) * 1000000000.0)
            .cast("long").as("y_int"))
        .orderBy("g", "k")
    })(
      dotsEvenSql),

    // -subdivide max-count (quadtree-style binary splits on the longer
    // axis while a leaf holds > maxPerLeaf points): the whole data-dependent
    // split cascade is replayed in SQL as a 10-round unrolled wavefront
    query("q_subdivide_count")((s, dir) => {
      val (assigned, _) = Subdivide.byCount(s, points(s, dir), "x", "y",
        maxPerLeaf = 100, maxDepth = 10)
      assigned.groupBy(col("leaf_id"))
        .agg(count(lit(1)).as("n"),
          floor(min(col("x")) * 1000.0).cast("long").as("xmn_int"),
          floor(max(col("x")) * 1000.0).cast("long").as("xmx_int"),
          floor(min(col("y")) * 1000.0).cast("long").as("ymn_int"),
          floor(max(col("y")) * 1000.0).cast("long").as("ymx_int"))
        .orderBy("leaf_id")
    })(
      subdivideMirrorSql)
  )
}
