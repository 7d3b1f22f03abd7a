package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Grid generators — the reference's `-point-grid` / `-grid`
 * (`/root/reference/src/commands/mapshaper-point-grid.mjs:8`,
 * `mapshaper-polygon-grid.mjs:13-107`) and the aligned square-grid maker
 * (`src/grids/mapshaper-square-grid.mjs`). Generated distributively from
 * `spark.range` — no driver-side materialization, arbitrary grid sizes.
 */
object Grids {

  /** Square polygon grid covering [x0, x0+nx*cs) x [y0, y0+ny*cs):
   * (gid, gx, gy, xmin, ymin, xmax, ymax). Pure codegen arithmetic. */
  def squareGrid(spark: SparkSession, x0: Double, y0: Double, cs: Double, nx: Int, ny: Int): DataFrame =
    spark.range(nx.toLong * ny)
      .withColumn("gx", (col("id") % nx).cast("long"))
      .withColumn("gy", (col("id") / nx).cast("long"))
      .select(col("id").as("gid"), col("gx"), col("gy"),
        (lit(x0) + col("gx") * cs).as("xmin"),
        (lit(y0) + col("gy") * cs).as("ymin"),
        (lit(x0) + (col("gx") + 1) * cs).as("xmax"),
        (lit(y0) + (col("gy") + 1) * cs).as("ymax"))

  /** Center-point grid (the `-point-grid` command). */
  def pointGrid(spark: SparkSession, x0: Double, y0: Double, cs: Double, nx: Int, ny: Int): DataFrame =
    squareGrid(spark, x0, y0, cs, nx, ny)
      .select(col("gid"), col("gx"), col("gy"),
        ((col("xmin") + col("xmax")) / 2).as("x"),
        ((col("ymin") + col("ymax")) / 2).as("y"))

  /** `-point-grid rows= cols=`: per-axis spacing with half-cell margins
   * (`test/point-grid-test.mjs:57-110` — rows=2, cols=1 on bbox [0,0,2,4]
   * yields (1,1),(1,3); the reference default bbox is the world frame). */
  def pointGridRowsCols(spark: SparkSession, rows: Int, cols: Int,
                        x0: Double = -180, y0: Double = -90,
                        x1: Double = 180, y1: Double = 90): DataFrame = {
    val dx = (x1 - x0) / cols
    val dy = (y1 - y0) / rows
    spark.range(cols.toLong * rows)
      .withColumn("gx", (col("id") % cols).cast("long"))
      .withColumn("gy", (col("id") / cols).cast("long"))
      .select(col("id").as("gid"), col("gx"), col("gy"),
        (lit(x0) + (col("gx").cast("double") + 0.5) * dx).as("x"),
        (lit(y0) + (col("gy").cast("double") + 0.5) * dy).as("y"))
  }

  /**
   * `-point-to-grid`: aggregate points into grid cells with an
   * influence-circle weight — weight of a point for a cell = area(circle(p,
   * radius) ∩ cell) / cellArea, points contributing to every cell their
   * circle touches (reference: `src/commands/mapshaper-point-to-grid.mjs:20-116`).
   */
  def pointToGrid(spark: SparkSession, points: DataFrame, xCol: String, yCol: String,
                  x0: Double, y0: Double, cs: Double, radius: Double,
                  minWeight: Double = 0.05): DataFrame = {
    val r = radius
    val reach = math.ceil(r / cs).toInt
    val cellsUdf = udf { (x: Double, y: Double) =>
      val cx = math.floor((x - x0) / cs).toInt
      val cy = math.floor((y - y0) / cs).toInt
      (for {
        dx <- -reach to reach
        dy <- -reach to reach
      } yield (cx + dx).toLong * 100000 + (cy + dy)).toArray
    }
    val weightUdf = udf { (x: Double, y: Double, packed: Long) =>
      val cx = (packed / 100000).toInt
      val cy = (packed % 100000).toInt
      val xmin = x0 + cx * cs
      val ymin = y0 + cy * cs
      circleRectOverlap(x, y, r, xmin, ymin, xmin + cs, ymin + cs) / (cs * cs)
    }
    points
      .withColumn("_cell", explode(cellsUdf(col(xCol), col(yCol))))
      .withColumn("_w", weightUdf(col(xCol), col(yCol), col("_cell")))
      .filter(col("_w") > minWeight)
      .groupBy(col("_cell").as("cell"))
      .agg(count(lit(1)).as("n_points"), sum(col("_w")).as("weight"))
  }

  // ------------------------------------------------------------------ hex

  /** Pointy-top hexagon ring (circumradius r), closed, CCW. */
  def hexRing(cx: Double, cy: Double, r: Double): Array[Double] = {
    val out = new Array[Double](14)
    var i = 0
    while (i < 6) {
      val a = math.Pi / 6.0 + math.Pi / 3.0 * i // 30°, 90°, ...
      out(i * 2) = cx + r * math.cos(a)
      out(i * 2 + 1) = cy + r * math.sin(a)
      i += 1
    }
    out(12) = out(0); out(13) = out(1)
    out
  }

  /** Axial (q, r) hex coordinate of a point — cube rounding (public algo);
   * pointy-top, hex circumradius `size`, origin at (0,0). */
  def hexCoord(x: Double, y: Double, size: Double): (Long, Long) = {
    val qf = (math.sqrt(3.0) / 3.0 * x - 1.0 / 3.0 * y) / size
    val rf = (2.0 / 3.0 * y) / size
    // cube round
    val xf = qf; val zf = rf; val yf = -xf - zf
    var rx = math.round(xf).toDouble
    var ry = math.round(yf).toDouble
    var rz = math.round(zf).toDouble
    val dx = math.abs(rx - xf); val dy = math.abs(ry - yf); val dz = math.abs(rz - zf)
    if (dx > dy && dx > dz) rx = -ry - rz
    else if (dy > dz) ry = -rx - rz
    else rz = -rx - ry
    (rx.toLong, rz.toLong)
  }

  /** Center of an axial hex. */
  def hexCenter(q: Long, r: Long, size: Double): (Double, Double) =
    (size * math.sqrt(3.0) * (q + r / 2.0), size * 1.5 * r)

  /** Flat-top hexagon ring (circumradius r), closed. */
  def hexRingFlatTop(cx: Double, cy: Double, r: Double): Array[Double] = {
    val out = new Array[Double](14)
    var i = 0
    while (i < 6) {
      val a = math.Pi / 3.0 * i // 0°, 60°, ...
      out(i * 2) = cx + r * math.cos(a)
      out(i * 2 + 1) = cy + r * math.sin(a)
      i += 1
    }
    out(12) = out(0); out(13) = out(1)
    out
  }

  /** Center of an axial flat-top hex (columns step 1.5*size in x). */
  def hexCenterFlatTop(q: Long, r: Long, size: Double): (Double, Double) =
    (size * 1.5 * q, size * math.sqrt(3.0) * (r + q / 2.0))

  /** Hex polygon grid covering a bbox: (q, r, cx, cy, ring). Both reference
   * orientations (`src/grids/mapshaper-hex-grid.mjs:13,33`): `hex` = flat-top
   * (flatTop = true), `hex2` = pointy-top (the default here). */
  def hexGrid(spark: SparkSession, x0: Double, y0: Double, x1: Double, y1: Double,
              size: Double, flatTop: Boolean = false): DataFrame = {
    import spark.implicits._
    val rows =
      if (!flatTop) {
        val rMin = math.floor(y0 / (1.5 * size)).toLong - 1
        val rMax = math.ceil(y1 / (1.5 * size)).toLong + 1
        (rMin to rMax).flatMap { r =>
          val qMin = math.floor(x0 / (math.sqrt(3.0) * size) - r / 2.0).toLong - 1
          val qMax = math.ceil(x1 / (math.sqrt(3.0) * size) - r / 2.0).toLong + 1
          (qMin to qMax).map { q =>
            val (cx, cy) = hexCenter(q, r, size)
            (q, r, cx, cy, hexRing(cx, cy, size))
          }
        }
      } else {
        val qMin = math.floor(x0 / (1.5 * size)).toLong - 1
        val qMax = math.ceil(x1 / (1.5 * size)).toLong + 1
        (qMin to qMax).flatMap { q =>
          val rMin = math.floor(y0 / (math.sqrt(3.0) * size) - q / 2.0).toLong - 1
          val rMax = math.ceil(y1 / (math.sqrt(3.0) * size) - q / 2.0).toLong + 1
          (rMin to rMax).map { r =>
            val (cx, cy) = hexCenterFlatTop(q, r, size)
            (q, r, cx, cy, hexRingFlatTop(cx, cy, size))
          }
        }
      }
    rows.toDF("q", "r", "cx", "cy", "ring")
  }

  /** Ring center = open-vertex mean (reference getPolygonRingCenter —
   * ulp-identical to the lattice center only in exact arithmetic, so the
   * mean is what both engines must compute). */
  private def ringCenterMean(ring: Seq[Double]): (Double, Double) = {
    val n = ring.length / 2 - 1 // ignore closing point
    var x = 0.0; var y = 0.0
    var i = 0
    while (i < n) { x += ring(i * 2); y += ring(i * 2 + 1); i += 1 }
    (x / n, y / n)
  }

  /** `-grid type=rhombus`: each hex cell split into 3 rhombi
   * (reference subdivideHexagon, `mapshaper-polygon-grid.mjs:343-357`):
   * rhombus k = [center, v(2k), v(2k+1), v((2k+2) mod 6), center].
   * Output: (q, r, k, ring). */
  def rhombusGrid(spark: SparkSession, x0: Double, y0: Double, x1: Double, y1: Double,
                  size: Double, flatTop: Boolean = false): DataFrame = {
    val cellUdf = udf { (ring: Seq[Double], k: Int) =>
      val (mx, my) = ringCenterMean(ring)
      val i = 2 * k
      val j = (i + 2) % 6
      Array(mx, my, ring(i * 2), ring(i * 2 + 1), ring((i + 1) * 2), ring((i + 1) * 2 + 1),
        ring(j * 2), ring(j * 2 + 1), mx, my)
    }
    hexGrid(spark, x0, y0, x1, y1, size, flatTop)
      .select(col("q"), col("r"), col("ring").as("_hex"),
        explode(array(lit(0), lit(1), lit(2))).as("k"))
      .select(col("q"), col("r"), col("k"), cellUdf(col("_hex"), col("k")).as("ring"))
  }

  /** `-grid type=triangle`: each hex cell split into 6 triangles
   * (reference triangulateHexagon, `mapshaper-polygon-grid.mjs:359-370`):
   * triangle k = [center, v(k), v((k+1) mod 6), center].
   * Output: (q, r, k, ring). */
  def triangleGrid(spark: SparkSession, x0: Double, y0: Double, x1: Double, y1: Double,
                   size: Double, flatTop: Boolean = false): DataFrame = {
    val cellUdf = udf { (ring: Seq[Double], k: Int) =>
      val (mx, my) = ringCenterMean(ring)
      val j = (k + 1) % 6
      Array(mx, my, ring(k * 2), ring(k * 2 + 1), ring(j * 2), ring(j * 2 + 1), mx, my)
    }
    hexGrid(spark, x0, y0, x1, y1, size, flatTop)
      .select(col("q"), col("r"), col("ring").as("_hex"),
        explode(array(lit(0), lit(1), lit(2), lit(3), lit(4), lit(5))).as("k"))
      .select(col("q"), col("r"), col("k"), cellUdf(col("_hex"), col("k")).as("ring"))
  }

  /**
   * `-graticule` (unprojected): meridian/parallel polylines at an integer
   * interval, densified at the reference's precision rule (1° above 10°
   * intervals, else 0.5°), with polar extension parts for multiple-of-90
   * meridians (reference `mapshaper-graticule.mjs:100-175`). Lines are
   * generated distributively from `spark.range`; endpoints are exact (the
   * interpolated run stops one step short and appends the true endpoint,
   * like the reference's interval interpolator).
   * Output: (gtype, value, part, path).
   */
  def graticule(spark: SparkSession, interval: Int = 10): DataFrame = {
    require(interval > 0, "interval must be a positive integer")
    val precision = if (interval > 10) 1.0 else 0.5
    val xn = math.round(360.0 / interval).toInt
    val yn = math.round(180.0 / interval).toInt + 1
    val y0 = if (interval <= 15) interval.toDouble else 0.0

    def densified(fixed: Double, lo: Double, hi: Double, vertical: Boolean): Array[Double] = {
      val dist = math.abs(hi - lo)
      val n = if (dist > precision + 1e-4) math.round(dist / precision).toInt - 1 else 0
      val step = (hi - lo) / (n + 1)
      val out = new Array[Double]((n + 2) * 2)
      var j = 0
      while (j <= n + 1) {
        val v = if (j == 0) lo else if (j == n + 1) hi else lo + step * j
        if (vertical) { out(j * 2) = fixed; out(j * 2 + 1) = v }
        else { out(j * 2) = v; out(j * 2 + 1) = fixed }
        j += 1
      }
      out
    }

    val mUdf = udf { (k: Long, part: Int) =>
      val x = -180.0 + interval * (k + 1)
      part match {
        case 0 => densified(x, -90.0 + y0, 90.0 - y0, vertical = true)
        case 1 => densified(x, -90.0, -90.0 + y0, vertical = true)
        case _ => densified(x, 90.0 - y0, 90.0, vertical = true)
      }
    }
    val meridians = spark.range(xn)
      .withColumn("value", lit(-180.0) + lit(interval.toDouble) * (col("id") + 1))
      // polar extension parts only for multiples of 90 (when y0 > 0)
      .withColumn("part", explode(
        when(col("value").cast("long") % 90 === 0 && lit(y0) > 0.0,
          array(lit(0), lit(1), lit(2))).otherwise(array(lit(0)))))
      .select(lit("meridian").as("gtype"), col("value"), col("part"),
        mUdf(col("id"), col("part")).as("path"))
    val pUdf = udf { (k: Long) =>
      densified(-90.0 + interval * k, -180.0, 180.0, vertical = false)
    }
    val parallels = spark.range(yn)
      .withColumn("value", lit(-90.0) + lit(interval.toDouble) * col("id"))
      .select(lit("parallel").as("gtype"), col("value"), lit(0).as("part"),
        pUdf(col("id")).as("path"))
    meridians.unionByName(parallels)
  }

  /**
   * `-dots`: deterministic dot-density fill — n seeded points uniformly
   * inside a shape via rejection sampling over its bbox (reference:
   * `src/points/mapshaper-dot-density.mjs`). Runs per feature inside a map.
   */
  def dotFill(rings: Seq[Array[Double]], n: Int, seed: Long): Array[Double] = {
    val rng = new graft.tables.SplitMix64(seed)
    var x0 = Double.MaxValue; var y0 = Double.MaxValue
    var x1 = Double.MinValue; var y1 = Double.MinValue
    rings.foreach { r =>
      var i = 0
      while (i < r.length) {
        x0 = math.min(x0, r(i)); x1 = math.max(x1, r(i))
        y0 = math.min(y0, r(i + 1)); y1 = math.max(y1, r(i + 1))
        i += 2
      }
    }
    val inside = graft.geom.Overlay.evenOddContainment(rings)
    val out = new Array[Double](n * 2)
    var k = 0
    var guard = 0
    while (k < n && guard < n * 1000) {
      val px = x0 + rng.nextDouble() * (x1 - x0)
      val py = y0 + rng.nextDouble() * (y1 - y0)
      if (inside(px, py)) {
        out(k * 2) = px
        out(k * 2 + 1) = py
        k += 1
      }
      guard += 1
    }
    java.util.Arrays.copyOf(out, k * 2)
  }

  /**
   * `-dots evenness=` (reference `mapshaper-dot-density.mjs:40-230`):
   * evenness 0 falls back to pure rejection sampling ([[dotFill]]); evenness
   * in (0, 1] seeds one spaced point per grid cell (shuffled cell order) and
   * then dart-throws with a minimum-distance threshold that relaxes ×0.9
   * after every ceil(cells^0.8) failed probes — the reference's structure
   * with a deterministic SplitMix64 stream instead of Math.random, so output
   * is reproducible and partition-stable. Grid sizing, the 0.7 spacing
   * constant, and the relaxation schedule follow the reference.
   */
  def dotFillEven(rings: Seq[Array[Double]], n: Int, evenness: Double, seed: Long): Array[Double] = {
    if (evenness <= 0.0) return dotFill(rings, n, seed)
    val ev = math.min(evenness, 1.0)
    val rng = new graft.tables.SplitMix64(seed)
    var x0 = Double.MaxValue; var y0 = Double.MaxValue
    var x1 = Double.MinValue; var y1 = Double.MinValue
    rings.foreach { r =>
      var i = 0
      while (i < r.length) {
        x0 = math.min(x0, r(i)); x1 = math.max(x1, r(i))
        y0 = math.min(y0, r(i + 1)); y1 = math.max(y1, r(i + 1))
        i += 2
      }
    }
    val w = x1 - x0; val h = y1 - y0
    if (!(w > 0 && h > 0) || n <= 0) return Array.emptyDoubleArray
    // reference sizing: approxQueries ~ n * bboxArea / shapeArea; shape area
    // via the even-odd ring sum
    val shpArea = math.abs(rings.map(graft.geom.Geom.ringArea).sum)
    if (shpArea <= 0) return Array.emptyDoubleArray
    val approxQueries = math.max(1L, math.round(n * (w * h) / shpArea))
    val k = 0.5 * (ev - 1.0) + 1.0
    val approxCells = approxQueries * 0.9 * k
    val cols = math.max(1, math.round(math.sqrt(approxCells * w / h)).toInt)
    val rows = math.max(1, math.ceil(cols * h / w).toInt)
    val cellSize = w / cols
    val cells = cols * rows
    var dotSpacing = cellSize * 0.7 * ev

    // occupancy grid: placed points per cell
    val grid = Array.fill(cells)(List.empty[(Double, Double)])
    @inline def cellOf(px: Double, py: Double): Int = {
      val c = math.min(cols - 1, math.max(0, ((px - x0) / cellSize).toInt))
      val r = math.min(rows - 1, math.max(0, ((py - y0) / cellSize).toInt))
      r * cols + c
    }
    def usable(px: Double, py: Double): Boolean = {
      val c = math.min(cols - 1, math.max(0, ((px - x0) / cellSize).toInt))
      val r = math.min(rows - 1, math.max(0, ((py - y0) / cellSize).toInt))
      val d2 = dotSpacing * dotSpacing
      var ok = true
      var rr = math.max(0, r - 1)
      while (ok && rr <= math.min(rows - 1, r + 1)) {
        var cc = math.max(0, c - 1)
        while (ok && cc <= math.min(cols - 1, c + 1)) {
          var lst = grid(rr * cols + cc)
          while (ok && lst.nonEmpty) {
            val (qx, qy) = lst.head
            if (graft.geom.Geom.distanceSq(px, py, qx, qy) < d2) ok = false
            lst = lst.tail
          }
          cc += 1
        }
        rr += 1
      }
      ok
    }

    // deterministic Fisher-Yates cell shuffle (first-fill order)
    val order = Array.tabulate(cells)(identity)
    var i = cells - 1
    while (i > 0) {
      val j = ((rng.nextLong() >>> 1) % (i + 1)).toInt
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }

    val inside = graft.geom.Overlay.evenOddContainment(rings)
    val out = Array.newBuilder[Double]
    var placed = 0
    var fillCursor = 0
    val probesBeforeRelaxation = math.ceil(math.pow(cells.toDouble, 0.8)).toLong
    var probes = 0L
    val maxProbes = cells.toLong * 10 * math.max(1, n)

    while (placed < n && probes < maxProbes) {
      var px = 0.0; var py = 0.0; var got = false
      if (fillCursor < cells) { // first-fill: one spaced try per shuffled cell
        val id = order(fillCursor); fillCursor += 1
        val cc = id % cols; val rr = id / cols
        px = x0 + (cc + rng.nextDouble()) * cellSize
        py = y0 + (rr + rng.nextDouble()) * cellSize
        got = py <= y1 && usable(px, py) && inside(px, py)
      } else { // dart-throwing with relaxation
        px = x0 + rng.nextDouble() * w
        py = y0 + rng.nextDouble() * h
        got = usable(px, py) && inside(px, py)
        if (!got && probes % probesBeforeRelaxation == probesBeforeRelaxation - 1)
          dotSpacing *= 0.9
      }
      probes += 1
      if (got) {
        grid(cellOf(px, py)) ::= ((px, py))
        out += px; out += py
        placed += 1
      }
    }
    if (placed < n)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dotFillEven: placed $placed of $n dots before the probe budget ran " +
          s"out (evenness=$ev) — result is truncated, not a full fill")
    out.result()
  }

  /** Area of circle((cx,cy), r) ∩ axis-aligned rect — via fine numeric
   * integration over x (deterministic, adequate for weighting). */
  def circleRectOverlap(cx: Double, cy: Double, r: Double,
                        xmin: Double, ymin: Double, xmax: Double, ymax: Double): Double = {
    val lo = math.max(xmin, cx - r)
    val hi = math.min(xmax, cx + r)
    if (lo >= hi) return 0.0
    val steps = 256
    val dx = (hi - lo) / steps
    var area = 0.0
    var i = 0
    while (i < steps) {
      val x = lo + (i + 0.5) * dx
      val h = math.sqrt(math.max(0.0, r * r - (x - cx) * (x - cx)))
      val y1 = math.max(ymin, cy - h)
      val y2 = math.min(ymax, cy + h)
      if (y2 > y1) area += (y2 - y1) * dx
      i += 1
    }
    area
  }
}
