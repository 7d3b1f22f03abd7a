package graft
package entry

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.entry.Fixtures._
import graft.entry.Query.query
import graft.geom.Crs
import graft.operators._
import graft.tables.Synthetic

/**
 * Per-feature geometry: centroids, affine and rotation, simplification, point
 * and line generation, clustering, map furniture and the WKT/TopoJSON text
 * formats.
 */
private[graft] object GeometryQueries {

  /** Literal TopoJSON doc for q_topojson_read: two unit squares sharing a
   * vertical edge arc (the right ring references it reversed via ~0),
   * quantized with a non-identity transform. The same string is embedded in
   * the oracle SQL and delta-decoded there. */
  private val topoFixture: String =
    """{"type":"Topology","transform":{"scale":[0.01,0.01],"translate":[-5.0,3.0]},""" +
      """"objects":{"left":{"type":"Polygon","arcs":[[0,1]]},""" +
      """"right":{"type":"Polygon","arcs":[[2,-1]]}},""" +
      """"arcs":[[[100,0],[0,100]],[[100,100],[-100,0],[0,-100],[100,0]],""" +
      """[[100,0],[100,0],[0,100],[-100,0]]]}"""

  /** The q_simplify_dp SQL: the Douglas–Peucker RECURSION itself mirrored —
   * a recursive CTE splits each (lo, hi) span at its max-perpendicular
   * vertex (argmax via ORDER BY d DESC, i — first-max like the Scala scan),
   * thresholds clamped by the enclosing span. The perpendicular-distance
   * arithmetic matches the planar `segDistance` of Simplify.thresholds op
   * for op, so thresholds are bit-identical and the count needs no floor
   * guard. */
  private lazy val simplifyDpSql: String = {
    val layer = Synthetic.polygonLayer(32, seed = 11L, holeEvery = 0)
    val perp =
      """CASE WHEN (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) = 0
        |  THEN sqrt((v.x - a.x) * (v.x - a.x) + (v.y - a.y) * (v.y - a.y))
        |  ELSE abs((v.x - a.x) * (b.y - a.y) - (v.y - a.y) * (b.x - a.x))
        |       / sqrt((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)) END""".stripMargin
    def split(a: String): String =
      s"""SELECT $a.ring, $a.lo, $a.hi,
         |  (SELECT v.i FROM verts v
         |    JOIN verts a ON a.ring = $a.ring AND a.i = $a.lo
         |    JOIN verts b ON b.ring = $a.ring AND b.i = $a.hi
         |    WHERE v.ring = $a.ring AND v.i > $a.lo AND v.i < $a.hi
         |    ORDER BY ($perp) DESC, v.i LIMIT 1) AS maxi,
         |  least((SELECT max($perp) FROM verts v
         |    JOIN verts a ON a.ring = $a.ring AND a.i = $a.lo
         |    JOIN verts b ON b.ring = $a.ring AND b.i = $a.hi
         |    WHERE v.ring = $a.ring AND v.i > $a.lo AND v.i < $a.hi), $a.enc) AS t
         |FROM segs $a WHERE $a.hi - $a.lo >= 2""".stripMargin
    s"""WITH RECURSIVE v0(pk, ring, i, x, y) AS (
       |  VALUES ${Synthetic.ringVertsSqlValues(layer)}),
       |verts AS (
       |  SELECT ring, i, CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y FROM v0
       |  UNION ALL
       |  SELECT ring, (SELECT max(i) + 1 FROM v0 w WHERE w.ring = v0.ring) AS i,
       |    CAST(x AS DOUBLE), CAST(y AS DOUBLE) FROM v0 WHERE i = 0),
       |meta AS (SELECT ring, max(i) AS n1 FROM verts GROUP BY ring),
       |segs(ring, lo, hi, enc) AS (
       |  SELECT ring, 0, n1, 1e308 FROM meta
       |  UNION ALL
       |  SELECT sp.ring, u.clo, u.chi, sp.t
       |  FROM (${split("s")}) sp, LATERAL (VALUES (sp.lo, sp.maxi), (sp.maxi, sp.hi)) u(clo, chi)
       |),
       |thr AS (SELECT sp2.maxi AS i, sp2.ring, sp2.t FROM (${split("s2")}) sp2)
       |SELECT CAST(m.ring AS BIGINT) AS ring_id,
       |  CAST(m.n1 + 1 AS BIGINT) AS n_before,
       |  CAST(2 + coalesce(k.n, 0) AS BIGINT) AS n_after
       |FROM meta m LEFT JOIN (
       |  SELECT ring, count(*) AS n FROM thr WHERE t >= 0.35 GROUP BY ring) k
       |  ON k.ring = m.ring
       |ORDER BY ring_id""".stripMargin
  }

  /** Shared threshold machinery for the q_simplify* oracles: 14 unrolled
   * weighted-Visvalingam elimination rounds over the 8 16-point paths,
   * prefix-max clamp, sqrt*0.65 scaling, and the exact global rank-select
   * cutoff — ends with CTEs `s0` (indexed vertices), `thrs` (g, vi, z per
   * interior vertex) and `iv` (the pct=0.5 interval). Callers append their
   * own final SELECT. */
  private lazy val simplifyThrSql: String = {
      val c65 = dl(0.65)
      val c07 = dl(0.7)
      val rounds = (1 to 14).map { k =>
        s"""a$k AS (SELECT g, idx, x, y,
           |  lag(x) OVER (PARTITION BY g ORDER BY idx) AS px,
           |  lag(y) OVER (PARTITION BY g ORDER BY idx) AS py,
           |  lead(x) OVER (PARTITION BY g ORDER BY idx) AS nx,
           |  lead(y) OVER (PARTITION BY g ORDER BY idx) AS ny
           |  FROM s${k - 1} WHERE alive),
           |v$k AS (SELECT g, idx,
           |  (1.0 - CASE WHEN sqrt((px - x) * (px - x) + (py - y) * (py - y))
           |              * sqrt((x - nx) * (x - nx) + (y - ny) * (y - ny)) > 0
           |    THEN least(CAST(1.0 AS DOUBLE), greatest(CAST(-1.0 AS DOUBLE),
           |      ((px - x) * (nx - x) + (py - y) * (ny - y))
           |      / (sqrt((px - x) * (px - x) + (py - y) * (py - y))
           |         * sqrt((x - nx) * (x - nx) + (y - ny) * (y - ny)))))
           |    ELSE 0.0 END * $c07)
           |  * abs(((py - ny) * (x - nx) + (y - ny) * (nx - px)) / 2.0) AS v
           |  FROM a$k WHERE px IS NOT NULL AND nx IS NOT NULL),
           |m$k AS MATERIALIZED (SELECT g, idx AS rem, v FROM (
           |  SELECT g, idx, v, row_number() OVER (PARTITION BY g ORDER BY v, idx) AS rn
           |  FROM v$k) WHERE rn = 1),
           |s$k AS MATERIALIZED (SELECT s.g, s.idx, s.x, s.y,
           |  s.alive AND s.idx <> m.rem AS alive
           |  FROM s${k - 1} s JOIN m$k m ON s.g = m.g)""".stripMargin
      }.mkString(",\n")
      val rec = (1 to 14).map(k => s"SELECT $k AS k, g, rem, v FROM m$k")
        .mkString("\nUNION ALL ")
      s"""$ptsSql,
         |s0 AS MATERIALIZED (SELECT CAST((id - 1) // 16 AS BIGINT) AS g,
         |  row_number() OVER (PARTITION BY (id - 1) // 16 ORDER BY id) - 1 AS idx,
         |  x, y, TRUE AS alive
         |  FROM pts WHERE id >= 1 AND id <= 128),
         |$rounds,
         |rec AS ($rec),
         |thr AS (SELECT g, rem AS vi, max(v) OVER (PARTITION BY g ORDER BY k) AS t FROM rec),
         |thrs AS (SELECT g, vi, sqrt(t) * $c65 AS z FROM thr),
         |iv AS (SELECT z AS iv FROM thrs ORDER BY z LIMIT 1 OFFSET 56)""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // -points centroid: area-weighted shape centroids of the oracle layer,
    // floor-scaled to kill last-ulp summation-order noise vs the SQL mirror
    query("q_centroid")((s, dir) =>
      Points.centroids(s, Synthetic.oracleLayer)
        .select(col("poly_key"),
          floor(col("cx") * 1000000.0).cast("long").as("cx_int"),
          floor(col("cy") * 1000000.0).cast("long").as("cy_int"))
        .orderBy("poly_key"))(
      s"""WITH $oracleEdgesSql
         |SELECT CAST(pk AS BIGINT) AS poly_key,
         |  CAST(floor(sum((ex1 + ex2) * (ex1 * ey2 - ex2 * ey1))
         |       / (3.0 * sum(ex1 * ey2 - ex2 * ey1)) * 1000000.0) AS BIGINT) AS cx_int,
         |  CAST(floor(sum((ey1 + ey2) * (ex1 * ey2 - ex2 * ey1))
         |       / (3.0 * sum(ex1 * ey2 - ex2 * ey1)) * 1000000.0) AS BIGINT) AS cy_int
         |FROM edges GROUP BY pk ORDER BY poly_key""".stripMargin),

    // -explode / -points vertices: vertex counts per shape
    query("q_explode")((s, dir) =>
      Points.vertices(s, Synthetic.oracleLayer)
        .groupBy(col("poly_key"))
        .agg(countDistinct(col("ring")).as("n_rings"), count(lit(1)).as("n_vertices"))
        .orderBy("poly_key"))(
      s"""WITH $oracleEdgesSql
         |SELECT CAST(pk AS BIGINT) AS poly_key,
         |  count(DISTINCT ring) AS n_rings,
         |  count(*) + count(DISTINCT ring) AS n_vertices
         |FROM edges GROUP BY pk ORDER BY poly_key""".stripMargin),

    // -affine: rotate+scale+translate point coords (pure column arithmetic)
    query("q_affine")((s, dir) =>
      Points.affine(points(s, dir), "x", "y",
        a = 0.8, b = -0.6, c = 0.6, d = 0.8, tx = 10.0, ty = -5.0)
        .select(col("id"), col("ax"), col("ay"))
        .orderBy("id"))(
      s"""WITH $ptsSql
         |SELECT id,
         |  x * CAST(0.8 AS DOUBLE) + y * CAST(-0.6 AS DOUBLE) + CAST(10.0 AS DOUBLE) AS ax,
         |  x * CAST(0.6 AS DOUBLE) + y * CAST(0.8 AS DOUBLE) + CAST(-5.0 AS DOUBLE) AS ay
         |FROM pts ORDER BY id""".stripMargin),

    // -simplify: WEIGHTED Visvalingam thresholds per path + global
    // retained-pct cutoff as an EXACT distributed rank-select (not the
    // approx sketch) — the full pipeline (weighted metric, monotonic clamp,
    // sqrt*0.65 scaling, global quantile, >= filter) is mirrored in SQL by
    // a 14-round removal unroll partitioned per path
    query("q_simplify")((s, dir) => {
      val paths = points(s, dir).where(col("id") >= 1 && col("id") <= 128)
        .withColumn("g", floor((col("id") - 1) / 16).cast("long"))
        .groupBy("g")
        .agg(array_sort(collect_list(struct(col("id"), col("x"), col("y")))).as("pts"))
        .select(col("g"),
          flatten(transform(col("pts"),
            p => array(p.getField("x"), p.getField("y")))).as("ring"))
      SimplifyOp.simplify(s, paths, "ring", pct = 0.5,
          method = graft.geom.Simplify.WeightedVisvalingam, exactPct = true)
        .select(col("g"), col("n_before"), col("n_after"),
          floor(col("interval") * 1000000000.0).cast("long").as("interval_int"))
        .orderBy("g")
    })(
      // -simplify end to end: weighted-Visvalingam removal loop unrolled (14
      // rounds, partitioned per path; metric = (1 - 0.7*cos)*area in identical
      // IEEE op order; tie rule (v, idx) = the MinHeap's lexicographic order),
      // prefix-max monotonic clamp, sqrt*0.65 scaling, EXACT global rank-select
      // cutoff (k = floor((1-pct)*n)), and the >= retention filter
      s"""WITH $simplifyThrSql
         |SELECT g, CAST(16 AS BIGINT) AS n_before,
         |  CAST(2 + sum(CASE WHEN z >= iv THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
         |  CAST(floor(iv * 1000000000.0) AS BIGINT) AS interval_int
         |FROM thrs, iv GROUP BY g, iv ORDER BY g""".stripMargin),

    // -simplify variable=: per-ring interval = global interval * clamp(w);
    // weights (g%5)/4 span {0,.25,.5,.75,1} — w=0 keeps all 16 vertices,
    // w=1 matches the plain pct=0.5 filter. Oracle shares the q_simplify
    // threshold machinery and checks counts + the second kept vertex.
    query("q_simplify_variable")((s, dir) => {
      val paths = points(s, dir).where(col("id") >= 1 && col("id") <= 128)
        .withColumn("g", floor((col("id") - 1) / 16).cast("long"))
        .groupBy("g")
        .agg(array_sort(collect_list(struct(col("id"), col("x"), col("y")))).as("pts"))
        .select(col("g"),
          flatten(transform(col("pts"),
            p => array(p.getField("x"), p.getField("y")))).as("ring"))
        .withColumn("w", (col("g") % 5).cast("double") / 4.0)
      SimplifyOp.simplifyVariable(s, paths, "ring", "w", pct = 0.5,
          method = graft.geom.Simplify.WeightedVisvalingam, exactPct = true)
        .select(col("g"), col("n_before"), col("n_after"),
          floor(element_at(col("simplified"), 3) * 1000000.0).cast("long").as("x2_int"),
          floor(element_at(col("simplified"), 4) * 1000000.0).cast("long").as("y2_int"))
        .orderBy("g")
    })(
      // -simplify variable=: per-ring interval = global interval * clamp(w);
      // same threshold machinery, weight w(g) = (g%5)/4 spans {0,.25,.5,.75,1}
      s"""WITH $simplifyThrSql,
         |wt AS (SELECT DISTINCT g, CAST(g % 5 AS DOUBLE) / 4.0 AS w FROM thrs),
         |kept AS (SELECT t.g,
         |    sum(CASE WHEN t.z >= i.iv * w.w THEN 1 ELSE 0 END) AS n_int,
         |    min(CASE WHEN t.z >= i.iv * w.w THEN t.vi ELSE 15 END) AS vi2
         |  FROM thrs t JOIN wt w ON w.g = t.g, iv i GROUP BY t.g, w.w, i.iv)
         |SELECT k.g, CAST(16 AS BIGINT) AS n_before,
         |  CAST(2 + k.n_int AS BIGINT) AS n_after,
         |  CAST(floor(s.x * 1000000.0) AS BIGINT) AS x2_int,
         |  CAST(floor(s.y * 1000000.0) AS BIGINT) AS y2_int
         |FROM kept k JOIN s0 s ON s.g = k.g AND s.idx = k.vi2
         |ORDER BY k.g""".stripMargin),

    // -filter-points (thin dense points): keep the lowest id per grid cell
    query("q_thin_points")((s, dir) => {
      val w = Window.partitionBy(floor(col("x") / 5.0), floor(col("y") / 5.0))
        .orderBy(col("id"))
      points(s, dir)
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select("id")
        .orderBy("id")
    })(
      s"""WITH $ptsSql
         |SELECT id FROM (
         |  SELECT id, row_number() OVER (
         |    PARTITION BY floor(x / 5.0), floor(y / 5.0) ORDER BY id) AS rn
         |  FROM pts) WHERE rn = 1 ORDER BY id""".stripMargin),

    // cluster over the oracle layer's 8 shape centroids: the centroids are
    // the q_centroid edge-sum mirror (un-floored) and 8 -> 3 clusters is a
    // 5-round merge unroll — fully oracle-backed
    query("q_cluster")((s, dir) => {
      import s.implicits._
      val cents = Points.centroids(s, Synthetic.oracleLayer)
        .select("poly_key", "cx", "cy").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      val asg = Cluster.greedy(cents, k = 3)
      asg.toSeq.sortBy(_._1).map { case (k, c) => (k, c.toLong) }
        .toDF("poly_key", "cluster_id")
        .orderBy("poly_key")
    }) {
      // 8 shape centroids (exact edge-sum mirror, un-floored) agglomerated to
      // 3 clusters: 5 unrolled merge rounds. Merge-order ties are generic
      // (distinct centroid distances); output carries ids only.
      val rounds = (1 to 5).map { k =>
        s"""m$k AS MATERIALIZED (SELECT a.cid AS bi, b.cid AS bj,
           |  b.cx AS bcx, b.cy AS bcy, b.sz AS bsz
           |  FROM s${k - 1} a JOIN s${k - 1} b ON a.cid < b.cid AND a.alive AND b.alive
           |  ORDER BY (a.cx - b.cx) * (a.cx - b.cx) + (a.cy - b.cy) * (a.cy - b.cy),
           |    a.cid, b.cid
           |  LIMIT 1),
           |s$k AS MATERIALIZED (SELECT s.cid,
           |  CASE WHEN s.cid = m.bi THEN (s.cx * s.sz + m.bcx * m.bsz) / (s.sz + m.bsz)
           |    ELSE s.cx END AS cx,
           |  CASE WHEN s.cid = m.bi THEN (s.cy * s.sz + m.bcy * m.bsz) / (s.sz + m.bsz)
           |    ELSE s.cy END AS cy,
           |  CASE WHEN s.cid = m.bi THEN s.sz + m.bsz ELSE s.sz END AS sz,
           |  s.alive AND s.cid <> m.bj AS alive
           |  FROM s${k - 1} s, m$k m),
           |a$k AS MATERIALIZED (SELECT a.pk,
           |  CASE WHEN a.root = m.bj THEN m.bi ELSE a.root END AS root
           |  FROM a${k - 1} a, m$k m)""".stripMargin
      }.mkString(",\n")
      s"""WITH $oracleEdgesSql,
         |cent AS (SELECT pk,
         |  sum((ex1 + ex2) * (ex1 * ey2 - ex2 * ey1))
         |    / (3.0 * sum(ex1 * ey2 - ex2 * ey1)) AS cx,
         |  sum((ey1 + ey2) * (ex1 * ey2 - ex2 * ey1))
         |    / (3.0 * sum(ex1 * ey2 - ex2 * ey1)) AS cy
         |  FROM edges GROUP BY pk),
         |items AS (SELECT pk, cx, cy, row_number() OVER (ORDER BY pk) - 1 AS cid FROM cent),
         |s0 AS MATERIALIZED (SELECT cid, cx, cy, CAST(1.0 AS DOUBLE) AS sz, TRUE AS alive
         |  FROM items),
         |a0 AS MATERIALIZED (SELECT pk, cid AS root FROM items),
         |$rounds
         |SELECT CAST(pk AS BIGINT) AS poly_key,
         |  CAST(dense_rank() OVER (ORDER BY root) - 1 AS BIGINT) AS cluster_id
         |FROM a5 ORDER BY poly_key""".stripMargin
    },

    // -alpha-shapes: DISTRIBUTED alpha complex (cell-partitioned Delaunay,
    // circumcenter-owned triangles, global edge parity, driver ring assembly
    // over the O(perimeter) boundary) — mirrored END TO END by brute-force
    // empty-circumcircle Delaunay + radius filter + parity + a recursive-CTE
    // connected-components labeling of the boundary graph (each component is
    // one assembled ring: every boundary vertex has degree 2 on this fixture)
    query("q_alpha_shape")((s, dir) => {
      import s.implicits._
      val rings = AlphaShape.distributedRings(s,
        points(s, dir).where(col("id") >= 1 && col("id") <= 120), "x", "y", alpha = 8.0)
      rings.zipWithIndex.map { case (r, i) =>
        var mx = Double.MaxValue; var my = Double.MaxValue
        var j = 0
        while (j + 1 < r.length) {
          mx = math.min(mx, r(j)); my = math.min(my, r(j + 1)); j += 2
        }
        (i.toLong, (r.length / 2 - 1).toLong, // closing vertex repeated
          math.floor(mx * 1000.0).toLong, math.floor(my * 1000.0).toLong)
      }.toDF("ring_id", "n_vertices", "minx_int", "miny_int").orderBy("ring_id")
    })(
      // -alpha-shapes end to end: brute-force Delaunay (strict empty
      // circumcircle over all triples) + the kernel's circumcenter/radius
      // arithmetic + boundary parity + recursive-CTE component labeling of the
      // boundary graph; on this fixture every boundary vertex has degree 2, so
      // components == assembled rings, component edge count == ring vertex
      // count, and the (minx, miny, n) ring sort matches assembleSorted
      s"""WITH RECURSIVE $ptsSql,
         |p AS (SELECT id, x, y FROM pts WHERE id >= 1 AND id <= 120),
         |tri AS (SELECT a.id AS ia, b.id AS ib, c.id AS ic,
         |    a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by, c.x AS cx, c.y AS cy,
         |    2.0 * (a.x * (b.y - c.y) + b.x * (c.y - a.y) + c.x * (a.y - b.y)) AS d
         |  FROM p a JOIN p b ON a.id < b.id JOIN p c ON b.id < c.id),
         |ccs AS (SELECT ia, ib, ic, ax, ay,
         |    ax * ax + ay * ay AS a2, bx * bx + by * by AS b2, cx * cx + cy * cy AS c2,
         |    (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / d AS ux,
         |    (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d AS uy
         |  FROM tri WHERE d <> 0),
         |del AS (SELECT ia, ib, ic, ux, uy, ax, ay FROM ccs
         |  WHERE NOT EXISTS (SELECT 1 FROM p
         |    WHERE p.id <> ccs.ia AND p.id <> ccs.ib AND p.id <> ccs.ic
         |      AND (p.x - ux) * (p.x - ux) + (p.y - uy) * (p.y - uy)
         |        < (ax - ux) * (ax - ux) + (ay - uy) * (ay - uy))),
         |kept AS (SELECT ia, ib, ic FROM del
         |  WHERE sqrt((ux - ax) * (ux - ax) + (uy - ay) * (uy - ay)) <= 8.0),
         |ed AS (SELECT least(ia, ib) AS u, greatest(ia, ib) AS v FROM kept
         |  UNION ALL SELECT least(ib, ic), greatest(ib, ic) FROM kept
         |  UNION ALL SELECT least(ia, ic), greatest(ia, ic) FROM kept),
         |bnd AS (SELECT u, v FROM ed GROUP BY u, v HAVING count(*) = 1),
         |und AS (SELECT u, v FROM bnd UNION ALL SELECT v AS u, u AS v FROM bnd),
         |verts AS (SELECT DISTINCT u FROM und),
         |reach AS (SELECT u AS s, u AS t FROM verts
         |  UNION
         |  SELECT r.s, e.v AS t FROM reach r JOIN und e ON r.t = e.u),
         |roots AS (SELECT s, min(t) AS root FROM reach GROUP BY s),
         |comp AS (SELECT r.root, count(*) AS nv, min(p.x) AS minx, min(p.y) AS miny
         |  FROM roots r JOIN p ON r.s = p.id GROUP BY r.root)
         |SELECT CAST(row_number() OVER (ORDER BY minx, miny, nv) - 1 AS BIGINT) AS ring_id,
         |  CAST(nv AS BIGINT) AS n_vertices,
         |  CAST(floor(minx * 1000.0) AS BIGINT) AS minx_int,
         |  CAST(floor(miny * 1000.0) AS BIGINT) AS miny_int
         |FROM comp ORDER BY ring_id""".stripMargin),

    // -points midpoints: segment midpoints of the oracle layer
    query("q_midpoints")((s, dir) =>
      Points.midpoints(s, Synthetic.oracleLayer)
        .select(col("poly_key"), col("ring").cast("long").as("ring"),
          col("mx"), col("my"))
        .orderBy("ring", "mx", "my"))(
      s"""WITH $oracleEdgesSql
         |SELECT CAST(pk AS BIGINT) AS poly_key, CAST(ring AS BIGINT) AS ring,
         |  (ex1 + ex2) / 2.0 AS mx, (ey1 + ey2) / 2.0 AS my
         |FROM edges ORDER BY ring, mx, my""".stripMargin),

    // azimuthal catalog + spherical pre-clip: each projection keeps only the
    // points within its default clip angle of its center (the reference's
    // getDefaultClipAngle), then projects — trig mirrored, floor-guarded
    // -each feature-proxy getters: area / perimeter / compactness /
    // width / height evaluated by higher-order Column folds over the flat
    // ring built in-plan; the oracle recomputes the closed forms
    query("q_each_geom")((s, dir) => {
      import graft.functions.FeatureExprs._
      val rects = points(s, dir).select((col("id") % 40).as("g")).distinct()
        .withColumn("w", (col("g") % 7 + 2).cast("double"))
        .withColumn("h", (col("g") % 5 + 3).cast("double"))
        .withColumn("ring", array(
          lit(0.0), lit(0.0), col("w"), lit(0.0), col("w"), col("h"),
          lit(0.0), col("h"), lit(0.0), lit(0.0)))
      rects.select(col("g"),
          floor(ringSignedArea(col("ring")) * 100.0).cast("long").as("area_int"),
          floor(ringPerimeter(col("ring")) * 100.0).cast("long").as("perim_int"),
          floor(compactness(col("ring")) * 1000000000.0).cast("long").as("compact_int"),
          bboxWidth(col("ring")).cast("long").as("bw"),
          bboxHeight(col("ring")).cast("long").as("bh"),
          bboxContainsPoint(col("ring"), lit(1.0), lit(3.5)).as("contains_p"))
        .orderBy("g")
    }) {
      // feature getters: closed forms over the same integer-valued rects
      val PI = dl(math.Pi)
      s"""WITH $ptsSql,
         |gs AS (SELECT DISTINCT id % 40 AS g FROM pts),
         |r AS (SELECT g, CAST(g % 7 + 2 AS DOUBLE) AS w, CAST(g % 5 + 3 AS DOUBLE) AS h
         |  FROM gs),
         |m AS (SELECT g, w, h, w * h AS area, 2 * w + 2 * h AS p FROM r)
         |SELECT g,
         |  CAST(floor(area * 100.0) AS BIGINT) AS area_int,
         |  CAST(floor(p * 100.0) AS BIGINT) AS perim_int,
         |  CAST(floor(area * $PI * 4.0 / (p * p) * 1000000000.0) AS BIGINT) AS compact_int,
         |  CAST(w AS BIGINT) AS bw, CAST(h AS BIGINT) AS bh,
         |  h >= 3.5 AS contains_p
         |FROM m ORDER BY g""".stripMargin
    },

    // format_dms / parse_dms / round helpers: string-exact DMS formatting
    // (integer millisecond-of-arc arithmetic) and its parse round trip
    query("q_each_dms")((s, dir) => {
      import graft.functions.FeatureExprs._
      points(s, dir)
        .withColumn("lon", col("x") * 3.6 - 180.0)
        .select(col("id"),
          formatDmsUdf(col("lon")).as("dms"),
          floor(parseDmsUdf(formatDmsUdf(col("lon"))) * 1000000.0).cast("long").as("back_int"),
          roundTo(col("lon"), 2).as("lon_r2"))
        .orderBy("id")
    })(
      // DMS: integer milliarcsecond split -> exact string; parse re-derives
      // the decimal degrees from the very string components
      s"""WITH $ptsSql,
         |ll AS (SELECT id, x * 3.6 - 180.0 AS lon FROM pts),
         |t AS (SELECT id, lon,
         |  CAST(floor(abs(lon) * 3600000.0 + 0.5) AS BIGINT) AS r FROM ll),
         |u AS (SELECT id, lon,
         |  (r // 60000) // 60 AS d, (r // 60000) % 60 AS m,
         |  printf('%.3f', CAST(r % 60000 AS DOUBLE) / 1000.0) AS secs FROM t),
         |v AS (SELECT id, lon,
         |  (CASE WHEN lon < 0 THEN '-' ELSE '' END) || CAST(d AS VARCHAR) || '°'
         |    || CAST(m AS VARCHAR) || CHR(39) || secs AS dms,
         |  CAST(d AS DOUBLE) + CAST(m AS DOUBLE) / 60
         |    + CAST(secs AS DOUBLE) / 3600 AS mag FROM u)
         |SELECT id, dms,
         |  CAST(floor((CASE WHEN lon < 0 THEN -mag ELSE mag END) * 1000000.0) AS BIGINT)
         |    AS back_int,
         |  floor(lon * 100.0 + 0.5) / 100.0 AS lon_r2
         |FROM v ORDER BY id""".stripMargin),

    // TopoJSON import (ref topojson-import.mjs:20-49): quantized
    // delta-encoded shared arcs, signed arc ids (~i = reversed), junction
    // point dedup — decoded from the same literal document in DuckDB via
    // window-sum delta decode + the same transform arithmetic.
    query("q_topojson_read")((s, dir) => {
      import s.implicits._
      val layer = graft.sources.TopoJsonIO.fromTopoJson(topoFixture)
      layerShapeStats(layer, scale = 1000.0).toDF("key", "n_rings", "n_verts",
        "minx_int", "miny_int", "maxx_int", "maxy_int").orderBy("key")
    })(
      // TopoJSON reader: window-sum delta decode of the same literal doc,
      // signed-arc reversal and junction dedup mirrored relationally
      s"""WITH doc AS (SELECT '$topoFixture' AS j),
         |tr AS (SELECT CAST(json_extract(j, '$$.transform.scale[0]') AS DOUBLE) AS sx,
         |    CAST(json_extract(j, '$$.transform.scale[1]') AS DOUBLE) AS sy,
         |    CAST(json_extract(j, '$$.transform.translate[0]') AS DOUBLE) AS tx,
         |    CAST(json_extract(j, '$$.transform.translate[1]') AS DOUBLE) AS ty FROM doc),
         |aidx AS (SELECT unnest(range(0, CAST(json_array_length(j, '$$.arcs') AS BIGINT))) AS a, j FROM doc),
         |alen AS (SELECT a, CAST(json_array_length(j, '$$.arcs[' || a || ']') AS BIGINT) AS n, j FROM aidx),
         |pidx AS (SELECT a, n, unnest(range(0, n)) AS p, j FROM alen),
         |deltas AS (SELECT a, n, p,
         |    CAST(json_extract(j, '$$.arcs[' || a || '][' || p || '][0]') AS BIGINT) AS dx,
         |    CAST(json_extract(j, '$$.arcs[' || a || '][' || p || '][1]') AS BIGINT) AS dy FROM pidx),
         |dec AS (SELECT a, n, p,
         |    CAST(SUM(dx) OVER (PARTITION BY a ORDER BY p) AS DOUBLE) AS qx,
         |    CAST(SUM(dy) OVER (PARTITION BY a ORDER BY p) AS DOUBLE) AS qy FROM deltas),
         |dxy AS (SELECT a, n, p, qx * tr.sx + tr.tx AS x, qy * tr.sy + tr.ty AS y
         |  FROM dec CROSS JOIN tr),
         |spec(key, k, arcid) AS (VALUES (0, 0, 0), (0, 1, 1), (1, 0, 2), (1, 1, -1)),
         |verts AS (SELECT s.key, d.x, d.y FROM spec s JOIN dxy d
         |  ON d.a = CASE WHEN s.arcid >= 0 THEN s.arcid ELSE -s.arcid - 1 END
         |  WHERE NOT (s.k > 0 AND
         |    (CASE WHEN s.arcid >= 0 THEN d.p ELSE d.n - 1 - d.p END) = 0))
         |SELECT CAST(key AS BIGINT) AS key, CAST(1 AS BIGINT) AS n_rings,
         |  CAST(count(*) AS BIGINT) AS n_verts,
         |  CAST(floor(min(x) * 1000.0) AS BIGINT) AS minx_int,
         |  CAST(floor(min(y) * 1000.0) AS BIGINT) AS miny_int,
         |  CAST(floor(max(x) * 1000.0) AS BIGINT) AS maxx_int,
         |  CAST(floor(max(y) * 1000.0) AS BIGINT) AS maxy_int
         |FROM verts GROUP BY key ORDER BY key""".stripMargin),

    // -rotate: spherical Euler-angle rotation (d3 semantics, ref
    // mapshaper-spherical-rotation.mjs) — trig mirrored in DuckDB, floor 1e6
    query("q_rotate")((s, dir) => {
      val rot = Proj.forward(col("lon"), col("lat"), graft.geom.Crs.Rotation(25.0, 15.0, 30.0))
      points(s, dir)
        .withColumn("lon", col("x") * 3.6 - 180.0)
        .withColumn("lat", col("y") * 1.7 - 85.0)
        .select(col("id"),
          floor(rot(0) * 1000000.0).cast("long").as("rlon_int"),
          floor(rot(1) * 1000000.0).cast("long").as("rlat_int"))
        .orderBy("id")
    }) {
      val D2R = dl(Crs.D2R); val PI = dl(math.Pi); val TWOPI = dl(2.0 * math.Pi)
      val A = dl(25.0 * Crs.D2R)
      val COSB = dl(math.cos(15.0 * Crs.D2R)); val SINB = dl(math.sin(15.0 * Crs.D2R))
      val COSC = dl(math.cos(30.0 * Crs.D2R)); val SINC = dl(math.sin(30.0 * Crs.D2R))
      val R2D = dl(Crs.R2D)
      s"""WITH $ptsSql,
         |ll AS (SELECT id, x * 3.6 - 180.0 AS lon, y * 1.7 - 85.0 AS lat FROM pts),
         |r0 AS (SELECT id, lon * $D2R + $A AS lam0, lat * $D2R AS phi FROM ll),
         |r1 AS (SELECT id, phi,
         |  CASE WHEN lam0 > $PI THEN lam0 - $TWOPI
         |       WHEN lam0 < -$PI THEN lam0 + $TWOPI ELSE lam0 END AS lam FROM r0),
         |r2 AS (SELECT id, cos(lam) * cos(phi) AS x, sin(lam) * cos(phi) AS y,
         |  sin(phi) AS z FROM r1),
         |r3 AS (SELECT id, x, y, z, z * $COSB + x * $SINB AS k FROM r2)
         |SELECT id,
         |  CAST(floor(atan2(y * $COSC - k * $SINC, x * $COSB - z * $SINB) * $R2D
         |    * 1000000.0) AS BIGINT) AS rlon_int,
         |  CAST(floor(asin(k * $COSC + y * $SINC) * $R2D * 1000000.0) AS BIGINT) AS rlat_int
         |FROM r3 ORDER BY id""".stripMargin
    },

    // Douglas-Peucker thresholds at a fixed interval — the DP recursion is
    // mirrored by a recursive CTE, thresholds bit-identical (no floor guard)
    query("q_simplify_dp")((s, dir) => {
      import s.implicits._
      val layer = Synthetic.polygonLayer(32, seed = 11L, holeEvery = 0)
      val rings = (0 until layer.numRings).map(r => (r.toLong, layer.ring(r))).toDF("ring_id", "ring")
      SimplifyOp.withThresholds(rings, "ring", graft.geom.Simplify.DouglasPeucker)
        .select(col("ring_id"),
          (size(col("ring")) / 2).cast("long").as("n_before"),
          size(filter(col("thresholds"), _ >= 0.35)).cast("long").as("n_after"))
        .orderBy("ring_id")
    })(
      simplifyDpSql),

    // -smooth / -densify: per-ring vertex kernels (no shuffle)
    query("q_smooth")((s, dir) => {
      import s.implicits._
      val layer = Synthetic.polygonLayer(32, seed = 11L, holeEvery = 0)
      val rings = (0 until layer.numRings).map(r => (r.toLong, layer.ring(r))).toDF("ring_id", "ring")
      val smoothUdf = udf((f: Seq[Double]) => graft.geom.PathOps.smooth(f.toArray, 0.25, 2).length / 2)
      val densifyUdf = udf((f: Seq[Double]) => graft.geom.PathOps.densify(f.toArray, 1.0).length / 2)
      rings.select(col("ring_id"),
          (size(col("ring")) / 2).cast("long").as("n_vertices"),
          smoothUdf(col("ring")).cast("long").as("n_smoothed"),
          densifyUdf(col("ring")).cast("long").as("n_densified"))
        .orderBy("ring_id")
    })(
      // vertex-count mirrors of PathOps.smooth/densify over the same fixture
      // layer emitted as literal edges: closed-ring Chaikin doubles interior
      // vertices (n -> 2(n-1)+1 per pass, two passes -> 4(n-1)+1); densify
      // inserts ceil(d)-1 vertices per edge longer than the interval (sqrt is
      // correctly rounded IEEE on both engines — d is bit-identical)
      s"""WITH edges AS (SELECT ring,
         |  CAST(ex1 AS DOUBLE) AS x1, CAST(ey1 AS DOUBLE) AS y1,
         |  CAST(ex2 AS DOUBLE) AS x2, CAST(ey2 AS DOUBLE) AS y2
         |  FROM (VALUES ${Synthetic.edgesSqlValues(Synthetic.polygonLayer(32, seed = 11L, holeEvery = 0))})
         |  t(pk, ring, ex1, ey1, ex2, ey2)),
         |d AS (SELECT ring, sqrt((x1 - x2)*(x1 - x2) + (y1 - y2)*(y1 - y2)) AS dist FROM edges),
         |agg AS (SELECT ring, count(*) AS ne,
         |  SUM(CASE WHEN dist > 1.0 THEN CAST(ceil(dist / 1.0) AS BIGINT) - 1 ELSE 0 END) AS ins
         |  FROM d GROUP BY ring)
         |SELECT CAST(ring AS BIGINT) AS ring_id, CAST(ne + 1 AS BIGINT) AS n_vertices,
         |  CAST(4 * ne + 1 AS BIGINT) AS n_smoothed,
         |  CAST(ne + 1 + ins AS BIGINT) AS n_densified
         |FROM agg ORDER BY ring_id""".stripMargin),

    // -lines: polygons -> classified boundary edges (outer / field / inner)
    // over a data-derived square-cell layer; exact integer coordinates
    query("q_lines")((s, dir) => {
      val cells = points(s, dir)
        .select(floor(col("x") / 10.0).cast("long").as("cx"),
          floor(col("y") / 10.0).cast("long").as("cy"))
        .distinct()
        .withColumn("key", col("cx") * 1000 + col("cy"))
        .withColumn("g", (col("cx") + col("cy")) % 3)
      val d = (c: Column) => c.cast("double")
      val rings = cells.withColumn("ring", array(
        d(col("cx")), d(col("cy")),
        d(col("cx") + 1), d(col("cy")),
        d(col("cx") + 1), d(col("cy") + 1),
        d(col("cx")), d(col("cy") + 1),
        d(col("cx")), d(col("cy"))))
      Lines.polygonsToLines(rings, "key", "ring", Seq("g"))
        .select(col("ex1").cast("long").as("x1"), col("ey1").cast("long").as("y1"),
          col("ex2").cast("long").as("x2"), col("ey2").cast("long").as("y2"),
          col("type"), col("rank"), col("key_a"), col("key_b"))
        .orderBy("x1", "y1", "x2", "y2")
    })(
      // -lines: classify each undirected square-grid edge as outer / field
      // boundary ('g') / inner — exact integer coordinates and keys
      s"""WITH $ptsSql,
         |cells AS (SELECT DISTINCT CAST(floor(x / 10.0) AS BIGINT) AS cx,
         |    CAST(floor(y / 10.0) AS BIGINT) AS cy FROM pts),
         |cc AS (SELECT cx, cy, cx * 1000 + cy AS key, (cx + cy) % 3 AS g FROM cells),
         |edges AS (
         |  SELECT cx AS x1, cy AS y1, cx + 1 AS x2, cy AS y2, key, g FROM cc
         |  UNION ALL SELECT cx, cy + 1, cx + 1, cy + 1, key, g FROM cc
         |  UNION ALL SELECT cx, cy, cx, cy + 1, key, g FROM cc
         |  UNION ALL SELECT cx + 1, cy, cx + 1, cy + 1, key, g FROM cc),
         |ec AS (SELECT x1, y1, x2, y2, count(*) AS c,
         |    min(key) AS key_a,
         |    CASE WHEN count(*) > 1 THEN max(key) END AS key_b,
         |    min_by(g, key) AS ga, max_by(g, key) AS gb
         |  FROM edges GROUP BY x1, y1, x2, y2)
         |SELECT x1, y1, x2, y2,
         |  CASE WHEN c = 1 THEN 'outer' WHEN ga <> gb THEN 'g' ELSE 'inner' END AS type,
         |  CAST(CASE WHEN c = 1 THEN 0 WHEN ga <> gb THEN 1 ELSE 2 END AS BIGINT) AS rank,
         |  key_a, key_b
         |FROM ec ORDER BY x1, y1, x2, y2""".stripMargin),

    // -lines chain assembly: chain-size histogram per classification group
    // (labeling-invariant, so the pointer-jumping CC is oracle-checkable)
    query("q_lines_chains")((s, dir) => {
      val cells = points(s, dir)
        .select(floor(col("x") / 10.0).cast("long").as("cx"),
          floor(col("y") / 10.0).cast("long").as("cy"))
        .distinct()
        .withColumn("key", col("cx") * 1000 + col("cy"))
        .withColumn("g", (col("cx") + col("cy")) % 3)
      val d = (c: Column) => c.cast("double")
      val rings = cells.withColumn("ring", array(
        d(col("cx")), d(col("cy")),
        d(col("cx") + 1), d(col("cy")),
        d(col("cx") + 1), d(col("cy") + 1),
        d(col("cx")), d(col("cy") + 1),
        d(col("cx")), d(col("cy"))))
      Lines.assembleChains(s, Lines.polygonsToLines(rings, "key", "ring", Seq("g")))
        .groupBy("type", "rank", "key_a", "key_b", "n_edges")
        .agg(count(lit(1)).as("n_chains"))
        .orderBy("type", "rank", "key_a", "key_b", "n_edges")
    }) {
      // -lines chain assembly: min-label propagation unrolled to 4 rounds
      // (groups have <= 4 edges in the square-cell fixture, diameter <= 3;
      // extra rounds are no-ops, so the unroll is exact). Chain-size
      // histograms are labeling-invariant — the Spark side labels via
      // pointer-jumping CC over hashed edge ids, the mirror via lexicographic
      // edge codes; sizes must agree exactly.
      val rounds = (1 to 4).map { k =>
        s"""l$k AS MATERIALIZED (SELECT l.eid, l.type, l.rank, l.key_a, l.key_b,
           |  least(l.lbl, coalesce(min(n.lbl), l.lbl)) AS lbl
           |  FROM l${k - 1} l
           |  LEFT JOIN adj a ON a.u = l.eid
           |  LEFT JOIN l${k - 1} n ON n.eid = a.v
           |  GROUP BY l.eid, l.type, l.rank, l.key_a, l.key_b, l.lbl)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ptsSql,
         |cells AS (SELECT DISTINCT CAST(floor(x / 10.0) AS BIGINT) AS cx,
         |    CAST(floor(y / 10.0) AS BIGINT) AS cy FROM pts),
         |cc AS (SELECT cx, cy, cx * 1000 + cy AS key, (cx + cy) % 3 AS g FROM cells),
         |edges AS (
         |  SELECT cx AS x1, cy AS y1, cx + 1 AS x2, cy AS y2, key, g FROM cc
         |  UNION ALL SELECT cx, cy + 1, cx + 1, cy + 1, key, g FROM cc
         |  UNION ALL SELECT cx, cy, cx, cy + 1, key, g FROM cc
         |  UNION ALL SELECT cx + 1, cy, cx + 1, cy + 1, key, g FROM cc),
         |ec AS (SELECT x1, y1, x2, y2, count(*) AS c,
         |    min(key) AS key_a,
         |    CASE WHEN count(*) > 1 THEN max(key) END AS key_b,
         |    min_by(g, key) AS ga, max_by(g, key) AS gb
         |  FROM edges GROUP BY x1, y1, x2, y2),
         |cl AS (SELECT
         |    CASE WHEN c = 1 THEN 'outer' WHEN ga <> gb THEN 'g' ELSE 'inner' END AS type,
         |    CAST(CASE WHEN c = 1 THEN 0 WHEN ga <> gb THEN 1 ELSE 2 END AS BIGINT) AS rank,
         |    key_a, key_b,
         |    ((x1 * 200 + y1) * 200 + x2) * 200 + y2 AS eid,
         |    x1, y1, x2, y2
         |  FROM ec),
         |ends AS (SELECT type, rank, key_a, key_b, eid, x1 AS vx, y1 AS vy FROM cl
         |  UNION ALL SELECT type, rank, key_a, key_b, eid, x2, y2 FROM cl),
         |adj0 AS (SELECT min(eid) AS u, max(eid) AS v
         |  FROM ends GROUP BY type, key_a, key_b, vx, vy HAVING count(*) = 2),
         |adj AS (SELECT u, v FROM adj0 UNION SELECT v AS u, u AS v FROM adj0),
         |l0 AS MATERIALIZED (SELECT eid, type, rank, key_a, key_b, eid AS lbl FROM cl),
         |$rounds,
         |ch AS (SELECT type, rank, key_a, key_b, lbl, count(*) AS n_edges
         |  FROM l4 GROUP BY type, rank, key_a, key_b, lbl)
         |SELECT type, rank, key_a, key_b, n_edges, count(*) AS n_chains
         |FROM ch GROUP BY type, rank, key_a, key_b, n_edges
         |ORDER BY type, rank, key_a, key_b, n_edges""".stripMargin
    },

    // -lines over points: groupby= assembly into ordered LineStrings,
    // verified vertex by vertex
    query("q_points_lines")((s, dir) => {
      val pts = points(s, dir).withColumn("g", col("id") % 5)
      Lines.pointsToLines(pts, "g", "id", "x", "y")
        .select(col("group"), posexplode(col("line")))
        .groupBy(col("group"), (col("pos") / 2).cast("long").as("seq"))
        .agg(min(when(col("pos") % 2 === 0, col("col"))).as("x"),
          min(when(col("pos") % 2 === 1, col("col"))).as("y"))
        .orderBy("group", "seq")
    })(
      // -lines over points: ordered LineString assembly, vertex by vertex
      s"""WITH $ptsSql
         |SELECT id % 5 AS "group",
         |  row_number() OVER (PARTITION BY id % 5 ORDER BY id) - 1 AS seq, x, y
         |FROM pts ORDER BY "group", seq""".stripMargin),

    // -filter-detail (ref mapshaper-detail-filter.mjs): one fixture per
    // behavior — a needle excursion sliced by the survivor-merge +
    // tortuosity commit, a gentle stretch restored at full resolution, and
    // a round loop protected by the roundness gate. All three decisions sit
    // far from their thresholds, so the surviving vertex list is a closed
    // form (replica-validated for every g).
    query("q_filter_detail")((s, dir) => {
      val kernel = udf { (g: Long) =>
        val hA = 3.0 + (g % 3).toDouble
        val wB = 2.0 + (g % 2).toDouble
        val pts = Array(
          (0.0, 0.0), (30.0, 0.0), (30.0, hA), (30.5, hA), (30.5, 0.0),
          (80.0, 0.0), (80.0, 1.0), (80.0 + wB, 1.0), (80.0 + wB, 0.0),
          (130.0, 0.0), (127.0, 2.0), (130.4, 6.0), (134.0, 2.0), (130.8, 0.0),
          (200.0, 0.0))
        val (ox, oy) = graft.geom.DetailFilter.filter(
          pts.map(_._1), pts.map(_._2), distance = 2.0)
        ox.indices.map(i =>
          (i.toLong, math.round(ox(i) * 10.0), math.round(oy(i) * 10.0))).toArray
      }
      points(s, dir).select((col("id") % 8).as("g")).distinct()
        .withColumn("v", explode(kernel(col("g"))))
        .select(col("g"), col("v._1").as("k"), col("v._2").as("x10"),
          col("v._3").as("y10"))
        .orderBy("g", "k")
    })(
      // closed-form surviving vertices: needle cut, gentle kept, loop protected
      s"""WITH $ptsSql,
         |gs AS (SELECT DISTINCT id % 8 AS g FROM pts)
         |SELECT g, CAST(k AS BIGINT) AS k,
         |  CAST(CASE WHEN k IN (5, 6) THEN 820 + (g % 2) * 10 ELSE x10 END AS BIGINT) AS x10,
         |  CAST(y10 AS BIGINT) AS y10
         |FROM gs CROSS JOIN (VALUES
         |  (0, 0, 0), (1, 300, 0), (2, 305, 0), (3, 800, 0), (4, 800, 10),
         |  (5, 0, 10), (6, 0, 0), (7, 1300, 0), (8, 1270, 20), (9, 1304, 60),
         |  (10, 1340, 20), (11, 1308, 0), (12, 2000, 0)) t(k, x10, y10)
         |ORDER BY g, k""".stripMargin),

    // -shape: rectangle (densified at 0.5) and circle constructors,
    // vertex-exact (circle sin/cos floor-guarded)
    query("q_shape")((s, dir) => {
      import s.implicits._
      def verts(kind: String, flat: Array[Double]): Seq[(String, Long, Long, Long)] =
        (0 until flat.length / 2).map { i =>
          (kind, i.toLong,
            math.floor(flat(i * 2) * 1000000.0).toLong,
            math.floor(flat(i * 2 + 1) * 1000000.0).toLong)
        }
      (verts("rect", Shapes.rectangle(0, 0, 7, 3)) ++
        verts("circle", Shapes.circle(50, 50, 10, vertices = 37)))
        .toDF("kind", "seq", "x_int", "y_int")
        .orderBy("kind", "seq")
    })(
      // -shape: rectangle side densification (exact halves) + 37-vertex circle
      // (sin/cos floor-guarded at 1e6)
      """WITH rectv AS (
        |  SELECT i AS seq, 0.0 AS x, CAST(i AS DOUBLE) * 0.5 AS y FROM generate_series(0, 5) t(i)
        |  UNION ALL SELECT 6 + i, CAST(i AS DOUBLE) * 0.5, 3.0 FROM generate_series(0, 13) t(i)
        |  UNION ALL SELECT 20 + i, 7.0, 3.0 - CAST(i AS DOUBLE) * 0.5 FROM generate_series(0, 5) t(i)
        |  UNION ALL SELECT 26 + i, 7.0 - CAST(i AS DOUBLE) * 0.5, 0.0 FROM generate_series(0, 13) t(i)
        |  UNION ALL SELECT 40, 0.0, 0.0),
        |circv AS (
        |  SELECT i AS seq,
        |    50.0 + sin(CAST(i % 37 AS DOUBLE) / 37.0 * 360.0 / 180.0 * pi()) * 10.0 AS x,
        |    50.0 + cos(CAST(i % 37 AS DOUBLE) / 37.0 * 360.0 / 180.0 * pi()) * 10.0 AS y
        |  FROM generate_series(0, 37) t(i)),
        |allv AS (SELECT 'rect' AS kind, seq, x, y FROM rectv
        |  UNION ALL SELECT 'circle', seq, x, y FROM circv)
        |SELECT kind, CAST(seq AS BIGINT) AS seq,
        |  CAST(floor(x * 1000000.0) AS BIGINT) AS x_int,
        |  CAST(floor(y * 1000000.0) AS BIGINT) AS y_int
        |FROM allv ORDER BY kind, seq""".stripMargin),

    // -frame: layer bounds + pct offsets + px offsets + derived height
    query("q_frame")((s, dir) => {
      import s.implicits._
      val f = Shapes.frame(points(s, dir), "x", "y", widthPx = 800,
        pctOffsets = (0.05, 0.05, 0.1, 0.1), pxOffsets = (10, 10, 20, 20))
      Seq((math.floor(f.xmin * 1000000.0).toLong, math.floor(f.ymin * 1000000.0).toLong,
        math.floor(f.xmax * 1000000.0).toLong, math.floor(f.ymax * 1000000.0).toLong,
        math.round(f.widthPx * 10.0), math.round(f.heightPx * 10.0)))
        .toDF("x0_int", "y0_int", "x1_int", "y1_int", "w_px10", "h_px10")
    })(
      // -frame: bbox + percentage offsets + pixel offsets + derived height,
      // with every fractional literal emitted as an exact double
      s"""WITH $ptsSql,
         |b0 AS (SELECT min(x) AS x0, min(y) AS y0, max(x) AS x1, max(y) AS y1 FROM pts),
         |b1 AS (SELECT
         |    (x1 - x0) / (1 - ${dl(0.05)} - ${dl(0.1)}) AS w2,
         |    (y1 - y0) / (1 - ${dl(0.1)} - ${dl(0.05)}) AS h2, * FROM b0),
         |b2 AS (SELECT
         |    x0 - ${dl(0.05)} * w2 AS x0, y0 - ${dl(0.05)} * h2 AS y0,
         |    x1 + ${dl(0.1)} * w2 AS x1, y1 + ${dl(0.1)} * h2 AS y1 FROM b1),
         |b3 AS (SELECT (x1 - x0) / (800.0 - 10.0 - 20.0) AS scale, * FROM b2),
         |b4 AS (SELECT
         |    x0 - scale * 10.0 AS x0, y0 - scale * 10.0 AS y0,
         |    x1 + scale * 20.0 AS x1, y1 + scale * 20.0 AS y1 FROM b3),
         |b5 AS (SELECT *, (x1 - x0) / (y1 - y0) AS aspect FROM b4),
         |b6 AS (SELECT *, round(800.0 / aspect * 10.0) / 10.0 AS hpx FROM b5)
         |SELECT
         |  CAST(floor(x0 * 1000000.0) AS BIGINT) AS x0_int,
         |  CAST(floor(y0 * 1000000.0) AS BIGINT) AS y0_int,
         |  CAST(floor(x1 * 1000000.0) AS BIGINT) AS x1_int,
         |  CAST(floor(y1 * 1000000.0) AS BIGINT) AS y1_int,
         |  CAST(8000 AS BIGINT) AS w_px10,
         |  CAST(round(hpx * 10.0) AS BIGINT) AS h_px10
         |FROM b6""".stripMargin),

    // -scalebar: auto-label ladder + length/placement arithmetic per scale
    query("q_scalebar")((s, dir) => {
      val labelUdf = udf { (mpp: Double) => Scalebar.autoLabel(800.0, mpp) }
      val lenUdf = udf { (mpp: Double) =>
        Scalebar.render(800.0, 600.0, mpp, position = "bottom-right").lengthPx }
      points(s, dir).where(col("id") <= 30)
        .select(col("id"), ((col("id") * 73) % 400 + 5).cast("double").as("mpp"))
        .withColumn("label", labelUdf(col("mpp")))
        .withColumn("len_px", lenUdf(col("mpp")))
        .withColumn("dx", (lit(800) - col("len_px") - 12).cast("long"))
        .select(col("id"), col("label"), col("len_px"), col("dx"))
        .orderBy("id")
    }) {
      // -scalebar: the auto-label ladder + length/placement arithmetic; ladder
      // values are exact-literal VALUES, selection and rounding run in SQL
      val ladder = Scalebar.autoOptions.zipWithIndex.map { case (numStr, i) =>
        s"(${i + 1}, '$numStr', ${dl(Scalebar.parseNumber(numStr))})"
      }.mkString(", ")
      s"""WITH $ptsSql,
         |m AS (SELECT id, CAST((id * 73) % 400 + 5 AS DOUBLE) AS mpp FROM pts WHERE id <= 30),
         |opts AS (SELECT * FROM (VALUES $ladder) t(ord, numstr, val)),
         |pick AS (SELECT m.id, m.mpp, min(o.ord) AS ord
         |  FROM m JOIN opts o ON o.val * ${dl(1.60934)} > m.mpp * 70.0 / 1000.0
         |  GROUP BY m.id, m.mpp),
         |sel AS (SELECT p.id, p.mpp, o.numstr, o.val FROM pick p JOIN opts o ON o.ord = p.ord)
         |SELECT id,
         |  numstr || ' ' || CASE WHEN val > 1 THEN 'MILES' ELSE 'MILE' END AS label,
         |  CAST(round(val * ${dl(1.60934)} / mpp * 1000.0) AS BIGINT) AS len_px,
         |  CAST(800 - round(val * ${dl(1.60934)} / mpp * 1000.0) - 12 AS BIGINT) AS dx
         |FROM sel ORDER BY id""".stripMargin
    },

    // -symbols geographic: per-point square symbol, scaled+shifted, no shuffle
    query("q_symbols")((s, dir) => {
      val tmpl = Symbols.polygonCoords("square", 1.0)
      val pts = points(s, dir).withColumn("scale", (col("id") % 7 + 1).cast("double"))
      Symbols.geographic(pts, "x", "y", tmpl, metersPerPx = 1.0, radiusCol = Some("scale"))
        .select(col("id"), posexplode(col("symbol")))
        .groupBy(col("id"), (col("pos") / 2).cast("long").as("seq"))
        .agg(
          min(when(col("pos") % 2 === 0, floor(col("col") * 1000000.0))).cast("long").as("x_int"),
          min(when(col("pos") % 2 === 1, floor(col("col") * 1000000.0))).cast("long").as("y_int"))
        .orderBy("id", "seq")
    })(
      // -symbols: square template (sin/cos at odd-eighth angles) scaled and
      // shifted per point, floor-guarded
      s"""WITH $ptsSql,
         |p AS (SELECT id, x, y, CAST(id % 7 + 1 AS DOUBLE) AS scale FROM pts),
         |v AS (SELECT i FROM generate_series(0, 4) t(i))
         |SELECT p.id, CAST(v.i AS BIGINT) AS seq,
         |  CAST(floor((sin((CAST(v.i % 4 AS DOUBLE) + 0.5) / 4.0 * 360.0 / 180.0 * pi()) * scale + x)
         |    * 1000000.0) AS BIGINT) AS x_int,
         |  CAST(floor((cos((CAST(v.i % 4 AS DOUBLE) + 0.5) / 4.0 * 360.0 / 180.0 * pi()) * scale + y)
         |    * 1000000.0) AS BIGINT) AS y_int
         |FROM p CROSS JOIN v ORDER BY id, seq""".stripMargin),

    // -points endpoints=: first/last vertex of each assembled group line
    query("q_points_endpoints")((s, dir) => {
      val pts = points(s, dir).withColumn("g", col("id") % 7)
      Points.endpoints(Lines.pointsToLines(pts, "g", "id", "x", "y"), "group", "line")
        .orderBy("group", "which")
    })(
      // -points endpoints=: min/max-id vertex per group line
      s"""WITH $ptsSql
         |SELECT id % 7 AS "group", 'start' AS which,
         |  min_by(x, id) AS x, min_by(y, id) AS y FROM pts GROUP BY id % 7
         |UNION ALL
         |SELECT id % 7, 'end', max_by(x, id), max_by(y, id) FROM pts GROUP BY id % 7
         |ORDER BY "group", which""".stripMargin),

    // -points from a WKT field: codegen regexp_extract round trip
    query("q_points_wkt")((s, dir) => {
      val wkt = points(s, dir).select(col("id"),
        concat(lit("POINT ("), ((col("id") * 31) % 1000).cast("string"),
          lit(" "), ((col("id") * 77) % 1000).cast("string"), lit(")")).as("wkt"))
      Points.fromWkt(wkt, "wkt")
        .select(col("id"), col("x").cast("long").as("px"), col("y").cast("long").as("py"))
        .orderBy("id")
    })(
      // -points wkt= round trip (integer-valued coordinates -> exact)
      s"""WITH $ptsSql
         |SELECT id, CAST((id * 31) % 1000 AS BIGINT) AS px,
         |  CAST((id * 77) % 1000 AS BIGINT) AS py
         |FROM pts ORDER BY id""".stripMargin),

    // -alpha-shapes: the alpha-complex boundary edge set (by point ids) of
    // 24 derived points — Bowyer-Watson here vs brute-force empty-
    // circumcircle Delaunay in the mirror (the triangulation is unique in
    // general position, so the topology matches; the radius filter uses the
    // identical circumcenter-distance arithmetic)
    query("q_alpha_edges")((s, dir) => {
      import s.implicits._
      val pts24 = points(s, dir).where(col("id") >= 1 && col("id") <= 24)
        .orderBy("id").select("id", "x", "y").as[(Long, Double, Double)].collect()
      val xs = pts24.map(_._2); val ys = pts24.map(_._3)
      val tris = AlphaShape.complexTriangles(xs, ys, alpha = 12.0)
      val counts = scala.collection.mutable.Map.empty[(Long, Long), Int]
      tris.grouped(3).foreach { t =>
        Seq((t(0), t(1)), (t(1), t(2)), (t(0), t(2))).foreach { case (u, v) =>
          val key = (pts24(math.min(u, v))._1, pts24(math.max(u, v))._1)
          counts(key) = counts.getOrElse(key, 0) + 1
        }
      }
      counts.filter(_._2 == 1).keys.toSeq.sorted
        .toDF("a_id", "b_id").orderBy("a_id", "b_id")
    })(
      // -alpha-shapes boundary edges: brute-force Delaunay (empty strict
      // circumcircle over all triples) + the kernel's exact circumcenter/
      // radius arithmetic + edge-multiplicity-1 boundary rule
      s"""WITH $ptsSql,
         |p24 AS (SELECT id, x, y FROM pts WHERE id >= 1 AND id <= 24),
         |tri AS (SELECT a.id AS ia, b.id AS ib, c.id AS ic,
         |    a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by, c.x AS cx, c.y AS cy,
         |    2.0 * (a.x * (b.y - c.y) + b.x * (c.y - a.y) + c.x * (a.y - b.y)) AS d
         |  FROM p24 a JOIN p24 b ON a.id < b.id JOIN p24 c ON b.id < c.id),
         |ccs AS (SELECT ia, ib, ic, ax, ay,
         |    ax * ax + ay * ay AS a2, bx * bx + by * by AS b2, cx * cx + cy * cy AS c2,
         |    (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / d AS ux,
         |    (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d AS uy
         |  FROM tri WHERE d <> 0),
         |del AS (SELECT ia, ib, ic, ux, uy, ax, ay FROM ccs
         |  WHERE NOT EXISTS (SELECT 1 FROM p24 p
         |    WHERE p.id <> ccs.ia AND p.id <> ccs.ib AND p.id <> ccs.ic
         |      AND (p.x - ux) * (p.x - ux) + (p.y - uy) * (p.y - uy)
         |        < (ax - ux) * (ax - ux) + (ay - uy) * (ay - uy))),
         |kept AS (SELECT ia, ib, ic FROM del
         |  WHERE sqrt((ux - ax) * (ux - ax) + (uy - ay) * (uy - ay)) <= 12.0),
         |ed AS (SELECT least(ia, ib) AS u, greatest(ia, ib) AS v FROM kept
         |  UNION ALL SELECT least(ib, ic), greatest(ib, ic) FROM kept
         |  UNION ALL SELECT least(ia, ic), greatest(ia, ic) FROM kept)
         |SELECT u AS a_id, v AS b_id FROM ed
         |GROUP BY u, v HAVING count(*) = 1 ORDER BY a_id, b_id""".stripMargin),

    // -cluster greedy agglomeration: exact merge-sequence parity on 20
    // derived centroids to k=6 (14 merges unrolled in the mirror; weighted
    // centroid updates are identical IEEE on both sides)
    query("q_cluster_greedy")((s, dir) => {
      import s.implicits._
      val items = points(s, dir).where(col("id") >= 1 && col("id") <= 20)
        .orderBy("id")
        .select("id", "x", "y").as[(Long, Double, Double)].collect().toSeq
      val assign = Cluster.greedy(items, k = 6)
      items.map { case (id, _, _) => (id, assign(id).toLong) }
        .toDF("id", "cluster")
        .orderBy("id")
    }) {
      // -cluster greedy agglomeration unrolled: each round merges the closest
      // alive pair (ties -> lexicographic scan order, mirroring the kernel's
      // strict-< scan), weighted-centroid arithmetic in identical op order;
      // final label = dense rank of the surviving root index
      val rounds = (1 to 14).map { k =>
        s"""m$k AS MATERIALIZED (SELECT a.cid AS bi, b.cid AS bj,
           |  b.cx AS bcx, b.cy AS bcy, b.sz AS bsz
           |  FROM s${k - 1} a JOIN s${k - 1} b ON a.cid < b.cid AND a.alive AND b.alive
           |  ORDER BY (a.cx - b.cx) * (a.cx - b.cx) + (a.cy - b.cy) * (a.cy - b.cy),
           |    a.cid, b.cid
           |  LIMIT 1),
           |s$k AS MATERIALIZED (SELECT s.cid,
           |  CASE WHEN s.cid = m.bi THEN (s.cx * s.sz + m.bcx * m.bsz) / (s.sz + m.bsz)
           |    ELSE s.cx END AS cx,
           |  CASE WHEN s.cid = m.bi THEN (s.cy * s.sz + m.bcy * m.bsz) / (s.sz + m.bsz)
           |    ELSE s.cy END AS cy,
           |  CASE WHEN s.cid = m.bi THEN s.sz + m.bsz ELSE s.sz END AS sz,
           |  s.alive AND s.cid <> m.bj AS alive
           |  FROM s${k - 1} s, m$k m),
           |a$k AS MATERIALIZED (SELECT a.id,
           |  CASE WHEN a.root = m.bj THEN m.bi ELSE a.root END AS root
           |  FROM a${k - 1} a, m$k m)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ptsSql,
         |items AS (SELECT id, x, y, row_number() OVER (ORDER BY id) - 1 AS cid
         |  FROM pts WHERE id >= 1 AND id <= 20),
         |s0 AS MATERIALIZED (SELECT cid, x AS cx, y AS cy,
         |  CAST(1.0 AS DOUBLE) AS sz, TRUE AS alive FROM items),
         |a0 AS MATERIALIZED (SELECT id, cid AS root FROM items),
         |$rounds
         |SELECT id, CAST(dense_rank() OVER (ORDER BY root) - 1 AS BIGINT) AS cluster
         |FROM a14 ORDER BY id""".stripMargin
    },

    // -cluster group_by=: same greedy agglomeration but a candidate pair is
    // discarded when the group labels differ (mapshaper-cluster.mjs:53-57);
    // mirrored by the same merge-sequence unroll with a group guard
    query("q_cluster_grouped")((s, dir) => {
      import s.implicits._
      val items = points(s, dir).where(col("id") >= 1 && col("id") <= 20)
        .orderBy("id")
        .select(col("id"), col("x"), col("y"),
          concat(lit("g"), (col("id") % 2).cast("string")).as("grp"))
        .as[(Long, Double, Double, String)].collect().toSeq
      val assign = Cluster.greedyGrouped(items, k = 6)
      items.map { case (id, _, _, _) => (id, assign(id).toLong) }
        .toDF("id", "cluster")
        .orderBy("id")
    }) {
      // group_by variant: identical merge unroll with the reference's
      // same-group guard on the candidate pair join (a.g = b.g). UNROLL
      // INVARIANT: every m$k must be non-empty (an empty candidate CTE would
      // cross-join s$k to zero rows) — holds because 2 groups x 10 items
      // admit up to 18 same-group merges and the unroll stops at 14.
      val rounds = (1 to 14).map { k =>
        s"""m$k AS MATERIALIZED (SELECT a.cid AS bi, b.cid AS bj,
           |  b.cx AS bcx, b.cy AS bcy, b.sz AS bsz
           |  FROM s${k - 1} a JOIN s${k - 1} b
           |  ON a.cid < b.cid AND a.alive AND b.alive AND a.g = b.g
           |  ORDER BY (a.cx - b.cx) * (a.cx - b.cx) + (a.cy - b.cy) * (a.cy - b.cy),
           |    a.cid, b.cid
           |  LIMIT 1),
           |s$k AS MATERIALIZED (SELECT s.cid, s.g,
           |  CASE WHEN s.cid = m.bi THEN (s.cx * s.sz + m.bcx * m.bsz) / (s.sz + m.bsz)
           |    ELSE s.cx END AS cx,
           |  CASE WHEN s.cid = m.bi THEN (s.cy * s.sz + m.bcy * m.bsz) / (s.sz + m.bsz)
           |    ELSE s.cy END AS cy,
           |  CASE WHEN s.cid = m.bi THEN s.sz + m.bsz ELSE s.sz END AS sz,
           |  s.alive AND s.cid <> m.bj AS alive
           |  FROM s${k - 1} s, m$k m),
           |a$k AS MATERIALIZED (SELECT a.id,
           |  CASE WHEN a.root = m.bj THEN m.bi ELSE a.root END AS root
           |  FROM a${k - 1} a, m$k m)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ptsSql,
         |items AS (SELECT id, x, y, id % 2 AS g, row_number() OVER (ORDER BY id) - 1 AS cid
         |  FROM pts WHERE id >= 1 AND id <= 20),
         |s0 AS MATERIALIZED (SELECT cid, g, x AS cx, y AS cy,
         |  CAST(1.0 AS DOUBLE) AS sz, TRUE AS alive FROM items),
         |a0 AS MATERIALIZED (SELECT id, cid AS root FROM items),
         |$rounds
         |SELECT id, CAST(dense_rank() OVER (ORDER BY root) - 1 AS BIGINT) AS cluster
         |FROM a14 ORDER BY id""".stripMargin
    },

    // -simplify (Visvalingam): exact per-vertex removal thresholds of a
    // 22-vertex derived polyline — the heap loop is equivalent to
    // "remove argmin effective area, record prefix-max" which the SQL
    // mirror unrolls; areas/sqrt are exact IEEE on both sides
    query("q_simplify_vis")((s, dir) => {
      val path = points(s, dir).where(col("id") >= 1 && col("id") <= 22)
        .groupBy(lit(1).as("g"))
        .agg(array_sort(collect_list(struct(col("id"), col("x"), col("y")))).as("pts"))
        .select(flatten(transform(col("pts"),
          p => array(p.getField("x"), p.getField("y")))).as("ring"))
      SimplifyOp.withThresholds(path, "ring", graft.geom.Simplify.Visvalingam)
        .select(posexplode(col("thresholds")))
        .where(col("pos") >= 1 && col("pos") <= 20) // interior vertices
        .select((col("pos") + 1).cast("long").as("vi"),
          floor(col("col") * 1000000000.0).cast("long").as("thr_int"))
        .orderBy("vi")
    }) {
      // -simplify (Visvalingam): the heap loop == "remove argmin effective
      // area; recorded threshold = prefix max of removal areas" — unrolled to
      // the exact 20 removals of the 22-vertex fixture. Triangle areas,
      // prefix max, sqrt and the 0.65 linearization are bit-identical IEEE.
      val c65 = dl(0.65)
      val rounds = (1 to 20).map { k =>
        s"""a$k AS (SELECT idx, x, y,
           |  lag(x) OVER (ORDER BY idx) AS px, lag(y) OVER (ORDER BY idx) AS py,
           |  lead(x) OVER (ORDER BY idx) AS nx, lead(y) OVER (ORDER BY idx) AS ny
           |  FROM s${k - 1} WHERE alive),
           |m$k AS MATERIALIZED (SELECT idx AS rem,
           |  abs(((py - ny) * (x - nx) + (y - ny) * (nx - px)) / 2.0) AS v
           |  FROM a$k WHERE px IS NOT NULL AND nx IS NOT NULL
           |  ORDER BY v, idx LIMIT 1),
           |s$k AS MATERIALIZED (SELECT s.idx, s.x, s.y,
           |  s.alive AND s.idx <> m.rem AS alive
           |  FROM s${k - 1} s, m$k m)""".stripMargin
      }.mkString(",\n")
      val rec = (1 to 20).map(k => s"SELECT $k AS k, rem, v FROM m$k")
        .mkString("\nUNION ALL ")
      s"""WITH $ptsSql,
         |s0 AS MATERIALIZED (SELECT id AS idx, x, y, TRUE AS alive
         |  FROM pts WHERE id >= 1 AND id <= 22),
         |$rounds,
         |rec AS ($rec),
         |thr AS (SELECT rem AS vi, max(v) OVER (ORDER BY k) AS t FROM rec)
         |SELECT CAST(vi AS BIGINT) AS vi,
         |  CAST(floor(sqrt(t) * $c65 * 1000000000.0) AS BIGINT) AS thr_int
         |FROM thr ORDER BY vi""".stripMargin
    },

    // -densify (planar): vertices inserted at j/k fractions per segment,
    // k = ceil(d/2.5) — identical IEEE everywhere, vertex-exact
    query("q_densify")((s, dir) => {
      val densifyUdf = udf { (xs: Seq[Double], ys: Seq[Double]) =>
        graft.geom.PathOps.densify(graft.geom.Geom.zipRing(xs.toArray, ys.toArray), 2.5).toSeq
      }
      points(s, dir).where(col("id") >= 1 && col("id") <= 30)
        .withColumn("g", col("id") % 3)
        .groupBy("g")
        .agg(array_sort(collect_list(struct(col("id"), col("x"), col("y")))).as("pts"))
        .select(col("g"),
          transform(col("pts"), p => p.getField("x")).as("xs"),
          transform(col("pts"), p => p.getField("y")).as("ys"))
        .select(col("g"), posexplode(densifyUdf(col("xs"), col("ys"))))
        .groupBy(col("g"), (col("pos") / 2).cast("long").as("vi"))
        .agg(min(when(col("pos") % 2 === 0, col("col"))).as("x"),
          min(when(col("pos") % 2 === 1, col("col"))).as("y"))
        .orderBy("g", "vi")
    })(
      // -densify: per-segment j/k insertion, exact mirror
      s"""WITH $ptsSql,
         |pp AS (SELECT id % 3 AS g, id, x, y FROM pts WHERE id >= 1 AND id <= 30),
         |v AS (SELECT g, row_number() OVER (PARTITION BY g ORDER BY id) - 1 AS seq, x, y FROM pp),
         |mx AS (SELECT g, max(seq) AS lastseq FROM v GROUP BY g),
         |seg AS (SELECT a.g, a.seq, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2,
         |    sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS d
         |  FROM v a JOIN v b ON a.g = b.g AND b.seq = a.seq + 1),
         |ks AS (SELECT s.*, CAST(ceil(s.d / 2.5) AS BIGINT) AS k FROM seg s),
         |js AS (SELECT j FROM generate_series(0, 200) t(j)),
         |em AS (
         |  SELECT g, seq, 0 AS j, x1 AS x, y1 AS y FROM ks
         |  UNION ALL
         |  SELECT s.g, s.seq, j.j,
         |    s.x1 + (s.x2 - s.x1) * (CAST(j.j AS DOUBLE) / s.k) AS x,
         |    s.y1 + (s.y2 - s.y1) * (CAST(j.j AS DOUBLE) / s.k) AS y
         |  FROM ks s JOIN js j ON s.d > 2.5 AND j.j >= 1 AND j.j < s.k
         |  UNION ALL
         |  SELECT v.g, m.lastseq, 0, v.x, v.y FROM v JOIN mx m
         |    ON v.g = m.g AND v.seq = m.lastseq)
         |SELECT g, CAST(row_number() OVER (PARTITION BY g ORDER BY seq, j) - 1 AS BIGINT) AS vi,
         |  x, y
         |FROM em ORDER BY g, vi""".stripMargin),

    // -dashlines: dash/gap segmentation (dash 2.5, gap 1.25 — binary-exact,
    // so break positions are exact prefix sums; half-gap start) — per-piece
    // vertex counts and rounded lengths vs the analytic schedule
    query("q_dashlines")((s, dir) => {
      val pts = points(s, dir).where(col("id") >= 1 && col("id") <= 40)
        .withColumn("g", col("id") % 4)
      val paths = Lines.pointsToLines(pts, "g", "id", "x", "y")
      DashLines(paths, "group", "line", dashLen = 2.5, gapLen = 1.25)
        .select(col("group").as("g"), col("part").cast("long").as("part"),
          (size(col("piece")) / 2).cast("long").as("n_vertices"),
          round(col("piece_len") * 10000.0).cast("long").as("len_q"))
        .orderBy("g", "part")
    })(
      // -dashlines: the analytic dash schedule (half-gap start 0.625, dash
      // 2.5, gap 1.25 — exact doubles) against the kernel's walk; lengths
      // round-guarded at 1e4, snap-to-endpoint rule mirrored
      s"""WITH $ptsSql,
         |pp AS (SELECT id % 4 AS g, id, x, y FROM pts WHERE id >= 1 AND id <= 40),
         |v AS (SELECT g, row_number() OVER (PARTITION BY g ORDER BY id) - 1 AS seq, x, y FROM pp),
         |seg AS (SELECT a.g, a.seq,
         |    sqrt((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)) AS d
         |  FROM v a JOIN v b ON a.g = b.g AND b.seq = a.seq + 1),
         |lens AS (SELECT g, list(d ORDER BY seq) AS ds FROM seg GROUP BY g),
         |tot AS (SELECT g, list_sum(ds) AS total, ds FROM lens),
         |accs AS (SELECT s.g, s.seq, s.d,
         |    CASE WHEN s.seq = 0 THEN 0.0 ELSE list_sum(t.ds[1:s.seq]) END AS acc
         |  FROM seg s JOIN tot t ON s.g = t.g),
         |last AS (SELECT g, max(seq) AS lastseq FROM seg GROUP BY g),
         |lastseg AS (SELECT a.g, a.acc AS lls FROM accs a
         |  JOIN last l ON a.g = l.g AND a.seq = l.lastseq),
         |ks AS (SELECT k FROM generate_series(0, 400) t(k)),
         |dashes AS (SELECT t.g, k.k,
         |    0.625 + 3.75 * CAST(k.k AS DOUBLE) AS a,
         |    0.625 + 3.75 * CAST(k.k AS DOUBLE) + 2.5 AS b,
         |    t.total, ls.lls,
         |    CASE WHEN k.k = 0 THEN 0.0
         |      ELSE 0.625 + 3.75 * CAST(k.k - 1 AS DOUBLE) + 2.5 END AS prevb
         |  FROM tot t JOIN lastseg ls ON t.g = ls.g, ks k
         |  WHERE 0.625 + 3.75 * CAST(k.k AS DOUBLE) < t.total),
         |live AS (SELECT * FROM dashes WHERE NOT (a > lls AND
         |    (a - greatest(prevb, lls)) / (total - greatest(prevb, lls)) > 0.999)),
         |eff AS (SELECT g, k, a, total,
         |    CASE WHEN b >= total THEN total
         |      WHEN b > lls AND (b - greatest(a, lls)) / (total - greatest(a, lls)) > 0.999
         |        THEN total
         |      ELSE b END AS beff
         |  FROM live),
         |cnt AS (SELECT e.g, e.k, e.a, e.beff,
         |    (SELECT count(*) FROM accs v2
         |      WHERE v2.g = e.g AND v2.seq >= 1 AND v2.acc > e.a AND v2.acc < e.beff) AS interior
         |  FROM eff e)
         |SELECT g, CAST(row_number() OVER (PARTITION BY g ORDER BY k) - 1 AS BIGINT) AS part,
         |  CAST(2 + interior AS BIGINT) AS n_vertices,
         |  CAST(round((beff - a) * 10000.0) AS BIGINT) AS len_q
         |FROM cnt ORDER BY g, part""".stripMargin),

    // -points interpolated: points every 2.5 units along each group path
    // (2.5 is binary-exact, so the kernel's sequential `next += interval`
    // equals j*interval and the mirror is exact)
    query("q_interpolate")((s, dir) => {
      val interpUdf = udf { (xs: Seq[Double], ys: Seq[Double]) =>
        Points.interpolate(graft.geom.Geom.zipRing(xs.toArray, ys.toArray), 2.5).toSeq
      }
      points(s, dir).where(col("id") >= 1 && col("id") <= 40)
        .withColumn("g", col("id") % 4)
        .groupBy("g")
        .agg(array_sort(collect_list(struct(col("id"), col("x"), col("y")))).as("pts"))
        .select(col("g"),
          transform(col("pts"), p => p.getField("x")).as("xs"),
          transform(col("pts"), p => p.getField("y")).as("ys"))
        .select(col("g"), posexplode(interpUdf(col("xs"), col("ys"))))
        .groupBy(col("g"), (col("pos") / 2).cast("long").as("vi"))
        .agg(min(when(col("pos") % 2 === 0, col("col"))).as("x"),
          min(when(col("pos") % 2 === 1, col("col"))).as("y"))
        .orderBy("g", "vi")
    })(
      // -points interpolated: emission bounds b_i = acc_i + d_i + eps are
      // sequential-fold exact (list_sum), next_j = j*2.5 is binary-exact, so
      // every emitted vertex mirrors bit for bit
      s"""WITH $ptsSql,
         |pp AS (SELECT id % 4 AS g, id, x, y FROM pts WHERE id >= 1 AND id <= 40),
         |v AS (SELECT g, row_number() OVER (PARTITION BY g ORDER BY id) - 1 AS seq, x, y FROM pp),
         |seg AS (SELECT a.g, a.seq, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2,
         |    sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS d
         |  FROM v a JOIN v b ON a.g = b.g AND b.seq = a.seq + 1),
         |lens AS (SELECT g, list(d ORDER BY seq) AS ds FROM seg GROUP BY g),
         |tot AS (SELECT g, list_sum(ds) AS total,
         |    1e-12 * greatest(1.0, list_sum(ds)) AS eps, ds FROM lens),
         |accs AS (SELECT s.g, s.seq, s.x1, s.y1, s.x2, s.y2, s.d, t.total, t.eps,
         |    CASE WHEN s.seq = 0 THEN 0.0 ELSE list_sum(t.ds[1:s.seq]) END AS acc
         |  FROM seg s JOIN tot t ON s.g = t.g),
         |js AS (SELECT j FROM generate_series(1, 1000) t(j)),
         |em AS (SELECT a.g, j.j,
         |    a.x1 + (a.x2 - a.x1) * ((CAST(j.j AS DOUBLE) * 2.5 - a.acc) / a.d) AS x,
         |    a.y1 + (a.y2 - a.y1) * ((CAST(j.j AS DOUBLE) * 2.5 - a.acc) / a.d) AS y
         |  FROM accs a JOIN js j
         |    ON CAST(j.j AS DOUBLE) * 2.5 > a.acc + a.eps
         |    AND CAST(j.j AS DOUBLE) * 2.5 <= a.acc + a.d + a.eps
         |    AND CAST(j.j AS DOUBLE) * 2.5 < a.total - a.eps),
         |heads AS (SELECT g, 0 AS j, x, y FROM v WHERE seq = 0),
         |allv AS (SELECT * FROM heads UNION ALL SELECT * FROM em)
         |SELECT g, CAST(row_number() OVER (PARTITION BY g ORDER BY j) - 1 AS BIGINT) AS vi,
         |  x, y
         |FROM allv ORDER BY g, vi""".stripMargin),

    // -points inner (polylabel-style anchor): 4 grid-refinement rounds over
    // each oracle shape, exact arithmetic (PIP parity + clamped segment
    // distances), vertex-exact at 1e-9
    query("q_anchor")((s, dir) => {
      import s.implicits._
      val layer = Synthetic.oracleLayer
      (0 until layer.numShapes).map { sh =>
        val (ax, ay) = Points.anchor(layer, sh)
        (layer.shapeKeys(sh),
          math.floor(ax * 1000000000.0).toLong,
          math.floor(ay * 1000000000.0).toLong)
      }.toDF("pk", "x_int", "y_int").orderBy("pk")
    }) {
      // -points inner (anchor): 4 unrolled grid-refinement rounds; inside =
      // upward-ray parity (equivalent to the kernel's even-odd combineRings in
      // general position), distance = clamped point-segment distance in the
      // kernel's exact op order; ties keep the earlier (gy, gx) like the scan
      val distExpr =
        """(SELECT min(sqrt(
          |   (c.px - (e.ex1 + (e.ex2 - e.ex1) *
          |     greatest(0.0, least(1.0,
          |       ((c.px - e.ex1) * (e.ex2 - e.ex1) + (c.py - e.ey1) * (e.ey2 - e.ey1))
          |       / ((e.ex2 - e.ex1) * (e.ex2 - e.ex1) + (e.ey2 - e.ey1) * (e.ey2 - e.ey1)))))) *
          |   (c.px - (e.ex1 + (e.ex2 - e.ex1) *
          |     greatest(0.0, least(1.0,
          |       ((c.px - e.ex1) * (e.ex2 - e.ex1) + (c.py - e.ey1) * (e.ey2 - e.ey1))
          |       / ((e.ex2 - e.ex1) * (e.ex2 - e.ex1) + (e.ey2 - e.ey1) * (e.ey2 - e.ey1)))))) +
          |   (c.py - (e.ey1 + (e.ey2 - e.ey1) *
          |     greatest(0.0, least(1.0,
          |       ((c.px - e.ex1) * (e.ex2 - e.ex1) + (c.py - e.ey1) * (e.ey2 - e.ey1))
          |       / ((e.ex2 - e.ex1) * (e.ex2 - e.ex1) + (e.ey2 - e.ey1) * (e.ey2 - e.ey1)))))) *
          |   (c.py - (e.ey1 + (e.ey2 - e.ey1) *
          |     greatest(0.0, least(1.0,
          |       ((c.px - e.ex1) * (e.ex2 - e.ex1) + (c.py - e.ey1) * (e.ey2 - e.ey1))
          |       / ((e.ex2 - e.ex1) * (e.ex2 - e.ex1) + (e.ey2 - e.ey1) * (e.ey2 - e.ey1))))))))
          | FROM edges e WHERE e.pk = c.pk)""".stripMargin.replace("\n", " ").replaceAll("\\|", "")
      val insideExpr =
        """((SELECT count(*) FROM edges e WHERE e.pk = c.pk
          |  AND ((e.ex1 > c.px) <> (e.ex2 > c.px))
          |  AND e.ey1 + (c.px - e.ex1) * (e.ey2 - e.ey1) / (e.ex2 - e.ex1) > c.py) % 2 = 1)"""
          .stripMargin.replace("\n", " ").replaceAll("\\|", "")
      val rounds = (1 to 4).map { k =>
        s"""c$k AS (SELECT s.pk, s.x0, s.y0, s.x1, s.y1, s.bx, s.by, s.bd,
           |    gy.i AS gy, gx.i AS gx,
           |    s.x0 + (s.x1 - s.x0) * CAST(gx.i AS DOUBLE) / 8.0 AS px,
           |    s.y0 + (s.y1 - s.y0) * CAST(gy.i AS DOUBLE) / 8.0 AS py
           |  FROM s${k - 1} s, g9 gx, g9 gy),
           |d$k AS MATERIALIZED (SELECT c.*, $distExpr AS dist
           |  FROM c$k c WHERE $insideExpr),
           |w$k AS MATERIALIZED (SELECT pk, px, py, dist FROM (
           |    SELECT pk, px, py, dist,
           |      row_number() OVER (PARTITION BY pk ORDER BY dist DESC, gy, gx) AS rn
           |    FROM d$k WHERE dist > bd) t WHERE rn = 1),
           |s$k AS MATERIALIZED (SELECT s.pk,
           |    coalesce(w.px, s.bx) - (s.x1 - s.x0) / 8.0 AS x0,
           |    coalesce(w.py, s.by) - (s.y1 - s.y0) / 8.0 AS y0,
           |    coalesce(w.px, s.bx) + (s.x1 - s.x0) / 8.0 AS x1,
           |    coalesce(w.py, s.by) + (s.y1 - s.y0) / 8.0 AS y1,
           |    coalesce(w.px, s.bx) AS bx, coalesce(w.py, s.by) AS by,
           |    coalesce(w.dist, s.bd) AS bd
           |  FROM s${k - 1} s LEFT JOIN w$k w USING (pk))""".stripMargin
      }.mkString(",\n")
      s"""WITH $oracleEdgesSql,
         |g9 AS (SELECT i FROM generate_series(0, 8) t(i)),
         |bb AS (SELECT pk,
         |    min(least(ex1, ex2)) AS x0, min(least(ey1, ey2)) AS y0,
         |    max(greatest(ex1, ex2)) AS x1, max(greatest(ey1, ey2)) AS y1
         |  FROM edges GROUP BY pk),
         |ctr AS (SELECT pk, x0, y0, x1, y1,
         |    (x0 + x1) / 2.0 AS px, (y0 + y1) / 2.0 AS py FROM bb),
         |s0 AS MATERIALIZED (SELECT c.pk, c.x0, c.y0, c.x1, c.y1,
         |    c.px AS bx, c.py AS by,
         |    CASE WHEN $insideExpr THEN $distExpr ELSE -1.0 END AS bd
         |  FROM ctr c),
         |$rounds
         |SELECT pk, CAST(floor(bx * 1000000000.0) AS BIGINT) AS x_int,
         |  CAST(floor(by * 1000000000.0) AS BIGINT) AS y_int
         |FROM s4 ORDER BY pk""".stripMargin
    },

    // -smooth kernel (Chaikin corner cutting, w=0.25, 2 iterations) on an
    // open 20-vertex derived path — exact affine arithmetic, vertex by vertex
    query("q_smooth_exact")((s, dir) => {
      val smoothUdf = udf { (xs: Seq[Double], ys: Seq[Double]) =>
        graft.geom.PathOps.smooth(graft.geom.Geom.zipRing(xs.toArray, ys.toArray), 0.25, 2).toSeq
      }
      points(s, dir).where(col("id") >= 1 && col("id") <= 20)
        .groupBy(lit(1).as("g"))
        .agg(array_sort(collect_list(struct(col("id"), col("x"), col("y")))).as("pts"))
        .select(
          transform(col("pts"), p => p.getField("x")).as("xs"),
          transform(col("pts"), p => p.getField("y")).as("ys"))
        .select(posexplode(smoothUdf(col("xs"), col("ys"))))
        .groupBy((col("pos") / 2).cast("long").as("vi"))
        .agg(min(when(col("pos") % 2 === 0, col("col"))).as("x"),
          min(when(col("pos") % 2 === 1, col("col"))).as("y"))
        .orderBy("vi")
    }) {
      // -smooth kernel: two unrolled Chaikin passes — interior vertices emit
      // v+w(prev-v) and v+w(next-v), endpoints stay; identical IEEE affine ops
      def pass(inp: String, out: String): String =
        s"""a$out AS (SELECT seq, x, y,
           |  lag(x) OVER (ORDER BY seq) AS px, lag(y) OVER (ORDER BY seq) AS py,
           |  lead(x) OVER (ORDER BY seq) AS nx, lead(y) OVER (ORDER BY seq) AS ny
           |  FROM $inp),
           |p$out AS (
           |  SELECT 2 * seq AS k, x, y FROM a$out WHERE nx IS NULL
           |  UNION ALL SELECT 2 * seq + 1, x, y FROM a$out WHERE px IS NULL
           |  UNION ALL SELECT 2 * seq, x + 0.25 * (px - x), y + 0.25 * (py - y)
           |    FROM a$out WHERE px IS NOT NULL AND nx IS NOT NULL
           |  UNION ALL SELECT 2 * seq + 1, x + 0.25 * (nx - x), y + 0.25 * (ny - y)
           |    FROM a$out WHERE px IS NOT NULL AND nx IS NOT NULL),
           |$out AS MATERIALIZED (SELECT row_number() OVER (ORDER BY k) - 1 AS seq, x, y
           |  FROM p$out)""".stripMargin
      s"""WITH $ptsSql,
         |s0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS seq, x, y
         |  FROM pts WHERE id >= 1 AND id <= 20),
         |${pass("s0", "s1")},
         |${pass("s1", "s2")}
         |SELECT CAST(seq AS BIGINT) AS vi, x, y FROM s2 ORDER BY vi""".stripMargin
    },

    // .prj WRITER (-o emits a .prj per exported shapefile): every
    // WKT1-expressible projection's emitted string vs a hand-transcribed
    // VALUES mirror of the ESRI WKT1 grammar the reference's own .prj
    // fixtures use (ref test/data/two_states.prj shape; writer is
    // Wkt.fromProj, reader-round-tripped in WktSpec)
    query("q_wkt_write")((s, dir) => {
      import s.implicits._
      import graft.geom.Crs
      val cases: Seq[(String, Crs.Proj)] = Seq(
        "longlat" -> Crs.Longlat,
        "tmerc" -> Crs.Tmerc(0.0, 114.0, 1.0, 500000.0, 0.0),
        "lcc" -> Crs.Lcc(33.0, 45.0, 39.0, -96.0),
        "aea" -> Crs.Albers(29.5, 45.5, 23.0, -96.0),
        "merc" -> Crs.Mercator(12.0),
        "robin" -> Crs.Robinson(10.0),
        "sinu" -> Crs.Sinusoidal(-30.0),
        "moll" -> Crs.Mollweide(5.0),
        "wintri" -> Crs.WinkelTripel(0.0),
        "laea" -> Crs.Laea(45.0, 8.0),
        "ortho" -> Crs.Orthographic(40.0, -100.0),
        "stere" -> Crs.Stereographic(60.0, -45.0),
        "eqc" -> Crs.Equirectangular(30.0, 15.0))
      cases.map { case (k, p) => (k, Graft.projectionToWkt(p)) }
        .toDF("proj_id", "wkt").orderBy("proj_id")
    })(
      // hand-transcribed ESRI WKT1 strings (the grammar of the reference's
      // own .prj fixtures); @G = the shared WGS84 GEOGCS block
      """WITH g AS (SELECT 'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]' AS gs),
        |v AS (SELECT * FROM (VALUES
        |  ('longlat', '@G'),
        |  ('tmerc', 'PROJCS["Transverse_Mercator",@G,PROJECTION["Transverse_Mercator"],PARAMETER["False_Easting",500000.0],PARAMETER["False_Northing",0.0],PARAMETER["Central_Meridian",114.0],PARAMETER["Scale_Factor",1.0],PARAMETER["Latitude_Of_Origin",0.0],UNIT["Meter",1.0]]'),
        |  ('lcc', 'PROJCS["Lambert_Conformal_Conic",@G,PROJECTION["Lambert_Conformal_Conic_2SP"],PARAMETER["Standard_Parallel_1",33.0],PARAMETER["Standard_Parallel_2",45.0],PARAMETER["Latitude_Of_Origin",39.0],PARAMETER["Central_Meridian",-96.0],UNIT["Meter",1.0]]'),
        |  ('aea', 'PROJCS["Albers",@G,PROJECTION["Albers"],PARAMETER["Standard_Parallel_1",29.5],PARAMETER["Standard_Parallel_2",45.5],PARAMETER["Latitude_Of_Origin",23.0],PARAMETER["Central_Meridian",-96.0],UNIT["Meter",1.0]]'),
        |  ('merc', 'PROJCS["Mercator",@G,PROJECTION["Mercator"],PARAMETER["Central_Meridian",12.0],UNIT["Meter",1.0]]'),
        |  ('robin', 'PROJCS["Robinson",@G,PROJECTION["Robinson"],PARAMETER["Central_Meridian",10.0],UNIT["Meter",1.0]]'),
        |  ('sinu', 'PROJCS["Sinusoidal",@G,PROJECTION["Sinusoidal"],PARAMETER["Central_Meridian",-30.0],UNIT["Meter",1.0]]'),
        |  ('moll', 'PROJCS["Mollweide",@G,PROJECTION["Mollweide"],PARAMETER["Central_Meridian",5.0],UNIT["Meter",1.0]]'),
        |  ('wintri', 'PROJCS["Winkel_Tripel",@G,PROJECTION["Winkel_Tripel"],PARAMETER["Central_Meridian",0.0],UNIT["Meter",1.0]]'),
        |  ('laea', 'PROJCS["Lambert_Azimuthal_Equal_Area",@G,PROJECTION["Lambert_Azimuthal_Equal_Area"],PARAMETER["Latitude_Of_Origin",45.0],PARAMETER["Central_Meridian",8.0],UNIT["Meter",1.0]]'),
        |  ('ortho', 'PROJCS["Orthographic",@G,PROJECTION["Orthographic"],PARAMETER["Latitude_Of_Origin",40.0],PARAMETER["Central_Meridian",-100.0],UNIT["Meter",1.0]]'),
        |  ('stere', 'PROJCS["Stereographic",@G,PROJECTION["Stereographic"],PARAMETER["Latitude_Of_Origin",60.0],PARAMETER["Central_Meridian",-45.0],UNIT["Meter",1.0]]'),
        |  ('eqc', 'PROJCS["Equidistant_Cylindrical",@G,PROJECTION["Equidistant_Cylindrical"],PARAMETER["Standard_Parallel_1",30.0],PARAMETER["Central_Meridian",15.0],UNIT["Meter",1.0]]')
        |) t(proj_id, w))
        |SELECT proj_id, replace(w, '@G', gs) AS wkt FROM v, g
        |ORDER BY proj_id""".stripMargin),

    // -cluster AT SCALE (the bounded-input contract): grid pre-agg to
    // weighted cell centroids (res auto-sized; 36 cells here), the weighted
    // greedy agglomeration on the bounded summary, broadcast assignment
    // back. Dyadic clump coordinates make every sum/centroid order-
    // independent and exact, so the 31-round merge sequence is replayed
    // bit-for-bit in SQL (same unroll pattern as q_cluster_greedy, with
    // masses; summary order = Morton cell id, mirrored by the same
    // interleave CTE as q_cell_disk)
    query("q_cluster_scale")((s, dir) => {
      val pts = points(s, dir).where(col("id") >= 1 && col("id") <= 60)
        .select(col("id"),
          (((col("id") % 12) % 4).cast("double") * 30.0 +
            (col("id") % 7).cast("double") / 64.0).as("px"),
          (floor((col("id") % 12) / 4).cast("double") * 20.0 +
            (col("id") % 5).cast("double") / 32.0).as("py"))
      Cluster.assignPoints(s, pts, "id", "px", "py", k = 5)
        .select(col("id"), col("cluster_id").cast("long").as("cluster"))
        .orderBy("id")
    }) {
      // the bounded-input cluster contract end to end: res-12 cell pre-agg
      // (Morton ids via the interleave CTE), weighted centroids (dyadic-exact
      // in any order), then the 31-round weighted greedy merge sequence
      // unrolled exactly as the kernel scans it (strict-<, first-pair ties)
      val rounds = (1 to 31).map { k =>
        s"""cm$k AS MATERIALIZED (SELECT a.cid AS bi, b.cid AS bj,
           |  b.cx AS bcx, b.cy AS bcy, b.wt AS bwt
           |  FROM cs${k - 1} a JOIN cs${k - 1} b ON a.cid < b.cid AND a.alive AND b.alive
           |  ORDER BY (a.cx - b.cx) * (a.cx - b.cx) + (a.cy - b.cy) * (a.cy - b.cy),
           |    a.cid, b.cid
           |  LIMIT 1),
           |cs$k AS MATERIALIZED (SELECT s.cid,
           |  CASE WHEN s.cid = m.bi THEN (s.cx * s.wt + m.bcx * m.bwt) / (s.wt + m.bwt)
           |    ELSE s.cx END AS cx,
           |  CASE WHEN s.cid = m.bi THEN (s.cy * s.wt + m.bcy * m.bwt) / (s.wt + m.bwt)
           |    ELSE s.cy END AS cy,
           |  CASE WHEN s.cid = m.bi THEN s.wt + m.bwt ELSE s.wt END AS wt,
           |  s.alive AND s.cid <> m.bj AS alive
           |  FROM cs${k - 1} s, cm$k m),
           |ca$k AS MATERIALIZED (SELECT a.cell,
           |  CASE WHEN a.root = m.bj THEN m.bi ELSE a.root END AS root
           |  FROM ca${k - 1} a, cm$k m)""".stripMargin
      }.mkString(",\n")
      s"""WITH pp AS (SELECT c_custkey AS id,
         |    CAST((c_custkey % 12) % 4 AS DOUBLE) * 30.0 + CAST(c_custkey % 7 AS DOUBLE) / 64.0 AS px,
         |    CAST((c_custkey % 12) // 4 AS DOUBLE) * 20.0 + CAST(c_custkey % 5 AS DOUBLE) / 32.0 AS py
         |  FROM customer WHERE c_custkey BETWEEN 1 AND 60),
         |mzin AS (SELECT id, px, py,
         |    CAST(floor(px / 0.087890625) AS BIGINT) AS ix,
         |    CAST(floor(py / 0.087890625) AS BIGINT) AS iy FROM pp),
         |${mortonCtes(12, Seq("id", "px", "py"))},
         |sumr AS (SELECT cell, sum(px) AS sx, sum(py) AS sy,
         |    CAST(count(*) AS DOUBLE) AS w FROM mz GROUP BY cell),
         |items AS (SELECT cell, sx / w AS cx, sy / w AS cy, w AS wt,
         |    row_number() OVER (ORDER BY cell) - 1 AS cid FROM sumr),
         |cs0 AS MATERIALIZED (SELECT cid, cx, cy, wt, TRUE AS alive FROM items),
         |ca0 AS MATERIALIZED (SELECT cell, cid AS root FROM items),
         |$rounds,
         |lbl AS (SELECT cell, CAST(dense_rank() OVER (ORDER BY root) - 1 AS BIGINT) AS cluster
         |  FROM ca31)
         |SELECT p.id, l.cluster FROM mz p JOIN lbl l ON p.cell = l.cell
         |ORDER BY p.id""".stripMargin
    }
  )
}
